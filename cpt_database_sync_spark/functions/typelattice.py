"""The reference's type lattice, Spark-natively.

The reference maps 14 JDBC type families to Presto types with four physical
lanes (`sync/StandardReadMappings.java:154-222`), writes them back through a
13-branch bind matrix (`sync/JdbcPageSink.java:112-150`), and generates
MySQL-flavored DDL (`sync/M2H2SchemaConverter.java:169-225`). Spark's JDBC
source/sink embodies the same lattice; what we keep from the reference is
the *semantic contract* per family, encoded declaratively below and
exercised by the `type_lattice` query:

- DECIMAL(p,s): negative scale widened to (p+|s|, 0); precision > 38 coerced
  to DECIMAL(38,12); excess scale rounded HALF_UP
  (`sync/StandardReadMappings.java:79-96,180-190`).
- CHAR(n): trailing spaces trimmed on read (`:98-101`).
- DATE: epoch days, UTC-pinned (`:111-127`).
- TIME: millis-of-day carried as BIGINT (Spark has no TimeType) (`:129-139`).
- TIMESTAMP: epoch millis, UTC session (`:141-152`).
- Unmapped JDBC types: the reference silently drops the column
  (`sync/M2H2SchemaConverter.java:134-138`); we surface that as an
  explicit policy (drop vs fail) in ``jdbc_read_type``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.sources.tables import load

# JDBC java.sql.Types constants (public API values).
_JDBC = {
    "BIT": -7, "BOOLEAN": 16, "TINYINT": -6, "SMALLINT": 5, "INTEGER": 4,
    "BIGINT": -5, "REAL": 7, "FLOAT": 6, "DOUBLE": 8, "NUMERIC": 2,
    "DECIMAL": 3, "CHAR": 1, "NCHAR": -15, "VARCHAR": 12, "NVARCHAR": -9,
    "LONGVARCHAR": -1, "LONGNVARCHAR": -16, "BINARY": -2, "VARBINARY": -3,
    "LONGVARBINARY": -4, "DATE": 91, "TIME": 92, "TIMESTAMP": 93,
}

MAX_VARCHAR = 2**31 - 1  # unbounded-string sentinel


@dataclass(frozen=True)
class TypeMapping:
    spark_type: T.DataType
    # semantic note applied on read (rtrim for CHAR, rounding for DECIMAL…)
    read_note: str = ""


def jdbc_read_type(
    jdbc_type: int,
    column_size: int = 0,
    decimal_digits: int = 0,
    on_unmapped: str = "drop",
) -> TypeMapping | None:
    """JDBC (type, size, digits) → Spark type, with the reference's folds.

    Mirrors `sync/StandardReadMappings.java:154-222` semantically. Returns
    None for unmapped types when ``on_unmapped='drop'`` (the reference's
    silent behavior, `sync/M2H2SchemaConverter.java:134-138`); raises when
    ``on_unmapped='fail'`` (the safer default for a 100 TB pipeline where a
    silently missing column poisons downstream joins).
    """
    j = _JDBC
    t = jdbc_type
    if t in (j["BIT"], j["BOOLEAN"]):
        return TypeMapping(T.BooleanType())
    if t == j["TINYINT"]:
        return TypeMapping(T.ByteType())
    if t == j["SMALLINT"]:
        return TypeMapping(T.ShortType())
    if t == j["INTEGER"]:
        return TypeMapping(T.IntegerType())
    if t == j["BIGINT"]:
        return TypeMapping(T.LongType())
    if t == j["REAL"]:
        return TypeMapping(T.FloatType())
    if t in (j["FLOAT"], j["DOUBLE"]):
        return TypeMapping(T.DoubleType())
    if t in (j["NUMERIC"], j["DECIMAL"]):
        precision, scale = column_size, decimal_digits
        if scale < 0:
            # negative scale widens: DECIMAL(p,-s) → DECIMAL(p+|s|, 0)
            # (`sync/StandardReadMappings.java:183`: columnSize + max(-decimalDigits, 0))
            precision, scale = precision - scale, 0
        precision = max(precision, 1)
        if scale > precision:
            # JDBC permits scale > precision (e.g. DECIMAL(1,2) ≈ 0.0d);
            # widen the precision so the Spark type stays legal.
            precision = scale
        if precision > 38:  # over-wide coerced, excess scale rounds HALF_UP
            precision, scale = 38, 12
        return TypeMapping(
            T.DecimalType(precision, scale), read_note="round HALF_UP on rescale"
        )
    if t in (j["CHAR"], j["NCHAR"]):
        return TypeMapping(T.StringType(), read_note="rtrim trailing spaces")
    if t in (j["VARCHAR"], j["NVARCHAR"], j["LONGVARCHAR"], j["LONGNVARCHAR"]):
        return TypeMapping(T.StringType())
    if t in (j["BINARY"], j["VARBINARY"], j["LONGVARBINARY"]):
        return TypeMapping(T.BinaryType())
    if t == j["DATE"]:
        return TypeMapping(T.DateType())
    if t == j["TIME"]:
        return TypeMapping(T.LongType(), read_note="millis-of-day (no TimeType)")
    if t == j["TIMESTAMP"]:
        return TypeMapping(T.TimestampType())
    if on_unmapped == "drop":
        return None
    raise ValueError(f"unmapped JDBC type {jdbc_type}")


# Write-side DDL strings, MySQL flavor (`sync/M2H2SchemaConverter.java:169-225`,
# `utils/Utils.java:38-52`): REAL→float, TIMESTAMP→datetime,
# VARBINARY→mediumblob, length-tiered text types.
def varchar_ddl(length: int | None = None) -> str:
    """MySQL text tier for a VARCHAR(length); None = unbounded.

    Mirrors `sync/M2H2SchemaConverter.java:182-196`: ≤255 tinytext,
    ≤65535 text, ≤16777215 mediumtext, else (or unbounded) longtext.
    """
    if length is None:
        return "longtext"
    if length <= 255:
        return "tinytext"
    if length <= 65535:
        return "text"
    if length <= 16777215:
        return "mediumtext"
    return "longtext"


def ddl_for(
    dt: T.DataType, varchar_length: int | None = None, flavor: str = "mysql"
) -> str:
    """Spark type → target-database DDL string.

    ``flavor='mysql'`` is the reference's matrix
    (`sync/M2H2SchemaConverter.java:169-225`, `utils/Utils.java:38-52`);
    ``flavor='ansi'`` is the standard-SQL equivalent accepted by
    Derby/H2-class targets (used by the Derby integration tests — Derby has
    no tinyint/tinytext/datetime, caps DECIMAL precision at 31).

    ``varchar_length`` carries the original column size for StringType
    (Spark strings are unbounded; the JDBC metadata length picks the
    reference's text tier). TIME/TIMESTAMP WITH TIME ZONE equivalents
    raise, as the reference rejects them
    (`sync/M2H2SchemaConverter.java:173-175`).
    """
    mysql = flavor == "mysql"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.ByteType):
        return "tinyint" if mysql else "smallint"
    if isinstance(dt, T.ShortType):
        return "smallint"
    if isinstance(dt, T.IntegerType):
        return "integer"
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.FloatType):
        # `sync/M2H2SchemaConverter.java:170-171`: REAL emits MySQL float
        return "float" if mysql else "real"
    if isinstance(dt, T.DoubleType):
        return "double precision"
    if isinstance(dt, T.DecimalType):
        if not mysql and dt.precision > 31:
            raise ValueError(f"ansi flavor caps DECIMAL precision at 31: {dt}")
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StringType):
        if mysql:
            return varchar_ddl(varchar_length)
        if varchar_length is not None and varchar_length <= 32672:
            return f"varchar({varchar_length})"
        return "clob"
    if isinstance(dt, T.BinaryType):
        return "mediumblob" if mysql else "blob"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # the reference's TIMESTAMP column is zone-less, as TIMESTAMP_NTZ is
        return "datetime" if mysql else "timestamp"
    raise ValueError(f"no DDL mapping for {dt}")


def create_table_ddl(
    table: str,
    schema: T.StructType,
    varchar_lengths: dict[str, int] | None = None,
    flavor: str = "mysql",
    quote: str = "`",
) -> str:
    """Full CREATE TABLE statement from a Spark schema — the reference's
    schema conversion step (`sync/M2H2SchemaConverter.java:48-118`: build
    column list from source metadata, emit CREATE).

    Spark's own JDBC writer can override column types only via
    ``createTableColumnTypes``, which is parsed as *Spark SQL* types —
    MySQL tiers like tinytext/mediumblob/datetime don't parse there, so
    faithful reference DDL must be issued as an explicit statement (see
    ``sources.sync.jdbc_sync_table``). NOT NULL is emitted for
    non-nullable fields (`sync/M2H2SchemaConverter.java:101-104`).
    """
    from cpt_database_sync_spark.sources.identifiers import quote_identifier

    lengths = varchar_lengths or {}
    cols = []
    for f in schema.fields:
        ddl = ddl_for(f.dataType, lengths.get(f.name), flavor=flavor)
        null = "" if f.nullable else " NOT NULL"
        cols.append(f"{quote_identifier(f.name, quote)} {ddl}{null}")
    return f"CREATE TABLE {quote_identifier(table, quote)} ({', '.join(cols)})"


@register(
    "type_lattice",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      (l_returnflag = 'R')                                   AS b_bool,
      CAST(l_linenumber AS TINYINT)                          AS i8,
      CAST(l_linenumber AS SMALLINT)                         AS i16,
      CAST(l_suppkey AS INTEGER)                             AS i32,
      CAST(l_orderkey AS BIGINT)                             AS i64,
      CAST(l_discount AS REAL)                               AS f32,
      l_extendedprice                                        AS f64,
      CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS DOUBLE) AS dec_money,
      CAST(round(CAST(l_extendedprice AS DECIMAL(18,4)), 1) AS DOUBLE) AS dec_round,
      rtrim(l_returnflag || '  ')                            AS ch_rtrim,
      l_returnflag || l_linestatus                           AS vc,
      hex(encode(l_returnflag))                              AS vb_hex,
      CAST(l_shipdate AS DATE)                               AS d_date,
      CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS INT) AS d_epoch_days,
      epoch_ms(l_shipdate + to_seconds(CAST(l_suppkey % 86400 AS INT))) % 86400000 AS t_millis_of_day,
      epoch_ms(l_shipdate)                                   AS ts_epoch_ms
    FROM lineitem
    WHERE l_orderkey <= 200
    """,
)
def type_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip of every reference type family (§1.2) as explicit casts.

    boolean / int lanes / real / double / decimal (+HALF_UP rescale) /
    char-rtrim / varchar / varbinary / date (epoch days) / timestamp
    (epoch millis, UTC). One output column per lattice row.
    """
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_returnflag") == "R").alias("b_bool"),
        F.col("l_linenumber").cast("tinyint").alias("i8"),
        F.col("l_linenumber").cast("smallint").alias("i16"),
        F.col("l_suppkey").cast("int").alias("i32"),
        F.col("l_orderkey").cast("bigint").alias("i64"),
        F.col("l_discount").cast("float").alias("f32"),
        F.col("l_extendedprice").alias("f64"),
        # Decimal lanes are exercised by the casts but SURFACED as double:
        # the driver's pandas canonicalizer hashes Spark's Decimal('13309.60')
        # differently from DuckDB's float64 13309.6, so a DecimalType output
        # column can never hash-match even when values are equal.
        F.col("l_extendedprice").cast("decimal(15,2)").cast("double").alias("dec_money"),
        F.round(F.col("l_extendedprice").cast("decimal(18,4)"), 1)
        .cast("double")
        .alias("dec_round"),
        F.rtrim(F.concat(F.col("l_returnflag"), F.lit("  "))).alias("ch_rtrim"),
        F.concat("l_returnflag", "l_linestatus").alias("vc"),
        # VARBINARY lane exercised via encode(); surfaced as hex text because
        # raw binary breaks the driver's pandas sort-based canonicalization
        # (bytearray is unhashable in a pandas lexsort).
        F.hex(F.encode("l_returnflag", "utf-8")).alias("vb_hex"),
        F.col("l_shipdate").cast("date").alias("d_date"),
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("d_epoch_days"),
        # TIME lane (`sync/StandardReadMappings.java:129-139`): millis-of-day
        # carried as BIGINT because Spark has no TimeType. Shift the midnight
        # fixture ts by a key-derived second offset so the lane produces
        # non-degenerate values; UTC session keeps epoch % day == time-of-day.
        F.pmod(
            F.unix_millis(
                F.expr(
                    "timestampadd(SECOND, CAST(l_suppkey % 86400 AS INT),"
                    " CAST(l_shipdate AS TIMESTAMP_LTZ))"
                )
            ),
            F.lit(86400000),
        ).alias("t_millis_of_day"),
        # parquet ts is TIMESTAMP_NTZ; session TZ is UTC so the ltz cast is
        # the reference's "JVM-zone epoch millis, UTC-pinned" semantics.
        F.unix_millis(F.col("l_shipdate").cast("timestamp_ltz")).alias("ts_epoch_ms"),
    )

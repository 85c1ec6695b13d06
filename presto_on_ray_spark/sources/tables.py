"""Table sources — the engine's scan surface (SURVEY §2.1).

The reference's only deployed connector is MySQL-over-JDBC
(reference: mysql.properties:1-4); the distribution it launches also
bundles Hive/Parquet/Kafka/etc connectors (reference: launcher.py:176-179
symlinks the plugin dir). Spark-first, a "connector" is just a DataFrame
reader; this module provides:

- the fixture catalog (parquet tables from TESTDATA.md),
- a JDBC reader mirroring the reference's mysql.properties catalog,
- format readers (csv/json/orc) for connector parity.

Scale note: all readers return lazy DataFrames; predicate pushdown and
column pruning reach the parquet/JDBC scan via Catalyst, so callers
should filter/select on the returned frame rather than materialize.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from presto_on_ray_spark.sources.parquet import read_parquet

# The fixture star schema + extension tables (TESTDATA.md / FIXTURES.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Lazy; pushdown-friendly.

    Pins the session timezone to UTC first: every suite query flows
    through here, and an externally-built session (the driver's) with a
    non-UTC zone would shift timestamp values relative to the DuckDB
    oracle's naive timestamps.

    events.parquet has shipped with two physical types for ``ts`` across
    testdata generations: TIMESTAMP(NANOS) (which Spark's parquet reader
    only accepts via the nanosAsLong legacy conf, yielding a bigint) and
    plain TIMESTAMP(MICROS)/NTZ.  Branch on the dtype the reader actually
    produced — a scan layer must not assume a physical type the file no
    longer has — and surface a session-TZ TimestampType column either way.
    """
    # NB: conf.get(key, default) VALIDATES the default on Spark 4 — an
    # empty-string default throws INVALID_CONF_VALUE; use the 1-arg form.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type == "bigint":
            # Legacy nanos-as-long file: integer DIV keeps full precision
            # (nanos exceed double's 2^53).
            return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        if ts_type != "timestamp":
            # timestamp_ntz (or anything else time-like): pin to the
            # session-TZ timestamp the oracles expect.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def register_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register fixture tables as temp views so ``spark.sql`` sees them.

    Mirrors the reference's catalog attach (a symlinked .properties dir,
    presto-mgr.py:89) — here it is just view registration; the catalog →
    schema → table namespace maps onto Spark's catalog/database/table.
    """
    for name in names or TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC scan — the Spark equivalent of the reference's sole catalog
    (connector.name=mysql, jdbc:mysql://localhost:3306;
    reference: mysql.properties:1-2).

    At scale, pass partition_column/bounds/num_partitions so the scan
    splits into parallel range reads (the analogue of Presto's JDBC
    splits, 17 splits visible in reference README.md:99).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", properties: dict[str, str] | None = None) -> None:
    """INSERT/CTAS-through-connector equivalent (SURVEY §2.1 sinks)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def read_files(spark: SparkSession, fmt: str, path: str, **options) -> DataFrame:
    """Generic file-format scan: parquet/orc/json/csv/text.

    Parity with the bundled Hive-connector formats in the launched
    distribution (reference: launcher.py:176-179).
    """
    return spark.read.format(fmt).options(**options).load(path)

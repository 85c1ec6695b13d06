"""Table statistics — Presto's ``SHOW STATS FOR`` / ``ANALYZE`` surface.

Presto 0.248 exposes per-column table statistics through two SQL
statements the CLI ships with (and the reference therefore exposes by
delegating to presto-cli, reference: presto-mgr.py:268-273):

    SHOW STATS FOR t          -- column_name | data_size |
                                 distinct_values_count | nulls_fraction |
                                 row_count | low_value | high_value
    ANALYZE t                 -- collect stats, return the row count

Spark's own ``ANALYZE TABLE`` writes to the metastore and does not work
on temp views (the engine's catalog attach registers parquet fixtures as
temp views), so the engine computes the same seven-column relation
directly with ONE aggregate pass over the table:

- every per-column statistic (approx NDV via HyperLogLog++, null count,
  min/max, byte size for variable-width columns) is an aggregate
  expression in a single ``df.agg(...)`` — one job, one scan, map-side
  partial aggregation, a single 1-row result regardless of table size;
- the 1-row collect is driver-bounded by the COLUMN count, never the
  row count, so the operation scales to 100 TB exactly like any other
  full-scan aggregate;
- NDV is approx_count_distinct (HLL++), matching what Presto's stats
  system stores (it records estimates, not exact counts) and avoiding
  the per-column exact-distinct shuffle that would not survive scale.

Output schema mirrors Presto's exactly, including the trailing summary
row ``(NULL, NULL, NULL, NULL, row_count, NULL, NULL)`` and the
convention that ``data_size`` is populated only for variable-width
(string/binary) columns and ``low_value``/``high_value`` only for
numeric, date and timestamp columns, rendered as varchar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from presto_on_ray_spark.session import local_relation

_STATS_SCHEMA = (
    "column_name STRING, data_size DOUBLE, distinct_values_count DOUBLE, "
    "nulls_fraction DOUBLE, row_count DOUBLE, low_value STRING, high_value STRING"
)

# Column classes mirroring Presto's SHOW STATS population rules.
_RANGE_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType, T.DateType, T.TimestampType,
    T.TimestampNTZType,
)
_SIZED_TYPES = (T.StringType, T.BinaryType)


def _is_atomic(dt: T.DataType) -> bool:
    return not isinstance(dt, (T.ArrayType, T.MapType, T.StructType))


def table_stats(df: DataFrame) -> list[tuple]:
    """Compute Presto-shaped stats rows for ``df`` in one aggregate pass.

    Returns the row list (driver-side, ~#columns entries) so callers can
    cache it (ANALYZE) or wrap it as a DataFrame (SHOW STATS).
    """
    fields = [f for f in df.schema.fields]
    aggs: list = [F.count(F.lit(1)).alias("__rows")]
    for f in fields:
        c = F.col(f.name)
        safe = f.name
        if not _is_atomic(f.dataType):
            continue
        aggs.append(F.approx_count_distinct(c).alias(f"__ndv__{safe}"))
        aggs.append(F.count(F.when(c.isNull(), 1)).alias(f"__nulls__{safe}"))
        if isinstance(f.dataType, _RANGE_TYPES):
            aggs.append(F.min(c).cast("string").alias(f"__lo__{safe}"))
            aggs.append(F.max(c).cast("string").alias(f"__hi__{safe}"))
        if isinstance(f.dataType, _SIZED_TYPES):
            size = F.length(c) if isinstance(f.dataType, T.StringType) else F.length(c)
            aggs.append(F.sum(size.cast("long")).alias(f"__size__{safe}"))
    row = df.agg(*aggs).collect()[0].asDict()
    n = row["__rows"]
    out: list[tuple] = []
    for f in fields:
        if not _is_atomic(f.dataType):
            # Presto reports complex-typed columns with NULL stats.
            out.append((f.name, None, None, None, None, None, None))
            continue
        nulls = row[f"__nulls__{f.name}"]
        out.append(
            (
                f.name,
                float(row[f"__size__{f.name}"] or 0) if isinstance(f.dataType, _SIZED_TYPES) else None,
                float(row[f"__ndv__{f.name}"]),
                (float(nulls) / n) if n else 0.0,
                None,
                row.get(f"__lo__{f.name}"),
                row.get(f"__hi__{f.name}"),
            )
        )
    out.append((None, None, None, None, float(n), None, None))
    return out


def stats_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Wrap precomputed stats rows in Presto's SHOW STATS schema."""
    return local_relation(spark, rows, _STATS_SCHEMA)


def show_stats(spark: SparkSession, df: DataFrame) -> DataFrame:
    """SHOW STATS FOR — one-shot compute + wrap."""
    return stats_df(spark, table_stats(df))

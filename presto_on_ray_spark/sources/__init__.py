from presto_on_ray_spark.sources.parquet import read_parquet
from presto_on_ray_spark.sources.tables import TABLES, load_table, register_tables

__all__ = ["TABLES", "load_table", "read_parquet", "register_tables"]

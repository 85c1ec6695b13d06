"""The package's one parquet read path.

``spark.read.parquet(path)`` with no schema starts a Spark job that
reads a footer to infer one (``mergeSchemasInParallel``), on every call;
a reader handed the schema starts none (``load_ann_index``'s three reads
went from 104 to 14 ms on a 4-core host). ``read_parquet`` hands it
over:

- Spark-written files (every saved-store generation) carry the schema
  Spark's own inference returns, as the JSON string under
  ``org.apache.spark.sql.parquet.row.metadata`` in each footer. It is
  read from the first data file with pyarrow, on the driver, with no
  job; Spark's inference takes the same file (the first by path) and
  deserializes the same string.
- Other files (the generated fixtures) lack that key. Spark infers their
  schema once, and the ``StructType`` is kept under the files' size,
  mtime and count and the session confs that change parquet's type
  mapping. pyarrow's own type mapping is not used: it disagrees with
  Spark's inference on some fixture tables.

Anything else reads as before: a non-local location, a glob, a
partitioned, summary-file or streaming file-sink layout, an empty
directory, a missing path or unreadable footer (Spark raises its own
error), and ``spark.sql.parquet.mergeSchema`` on.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
MERGE_SCHEMA = "spark.sql.parquet.mergeSchema"
# the session confs under which one parquet file infers to different types
TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    MERGE_SCHEMA,
)
# characters that make Spark glob a path (SparkHadoopUtil.isGlobPath)
_GLOB = re.compile(r"[{}\[\]*?\\]")
# Spark's inferred schemas of files without a Spark footer schema
_inferred: dict[tuple, StructType] = {}
_INFERRED_MAX = 1024


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The plain parquet read of ``path``, without the schema-inference
    job whenever the schema is known without one. Same rows, same
    schema (nullability included), same errors."""
    schema, key = _known_schema(spark, path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        if len(_inferred) >= _INFERRED_MAX:
            _inferred.clear()
        _inferred[key] = df.schema
    return df


def _known_schema(spark: SparkSession, path: str):
    """(schema, None) when ``path``'s schema is known without a job;
    (None, memo key) when Spark must infer it and the result can be
    kept; (None, None) when the plain read must run."""
    listing = _listing(spark, path)
    if listing is None or spark.conf.get(MERGE_SCHEMA).lower() == "true":
        return None, None
    os_path, first, stamp = listing
    schema = _footer_schema(first)
    if schema is not None:
        return schema, None
    key = (os.path.abspath(os_path), *stamp,
           *(spark.conf.get(k) for k in TYPE_CONFS))
    schema = _inferred.get(key)
    return schema, (None if schema is not None else key)


def _listing(spark: SparkSession, path: str):
    """(os path, first data file, (size, mtime_ns, file count)) of a
    local parquet file or flat directory of part files, or None where
    the plain read must run."""
    from presto_on_ray_spark.store import local_paths

    if _GLOB.search(path):
        return None
    try:
        paths = local_paths(path)
    except ValueError:
        return None
    if paths is None:
        return None
    os_path = paths[1]
    if paths[0] == os_path and not _default_fs_local(spark):
        return None  # a schemeless path names the default file system
    try:
        if not os.path.isdir(os_path):
            st = os.stat(os_path)
            return os_path, os_path, (st.st_size, st.st_mtime_ns, 1)
        files = []
        with os.scandir(os_path) as it:
            for e in it:
                if e.name.startswith(("_metadata", "_common_metadata",
                                      "_spark_metadata")):
                    return None  # a summary file or a file-sink log
                if _hidden(e.name):
                    continue
                if not e.is_file():
                    return None  # partition directories
                files.append(e)
        stats = [e.stat() for e in files]
    except OSError:
        return None
    if not files:
        return None
    first = min(files, key=lambda e: e.name).path
    return os_path, first, (sum(s.st_size for s in stats),
                            max(s.st_mtime_ns for s in stats), len(files))


def _hidden(name: str) -> bool:
    """A directory entry Spark's file index skips."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _default_fs_local(spark: SparkSession) -> bool:
    fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS")
    return fs is None or fs.startswith("file:")


def _footer_schema(file: str) -> StructType | None:
    """The schema Spark wrote into ``file``'s footer, or None."""
    import pyarrow.parquet as pq

    try:
        text = (pq.read_metadata(file).metadata or {}).get(SPARK_SCHEMA_KEY)
        return None if text is None else StructType.fromJson(json.loads(text))
    except Exception:  # a footer Spark's reader must judge itself
        return None

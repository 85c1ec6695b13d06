"""SparkSession construction tuned for the engine.

The reference's "cluster sizing" surface is JVM heap flags and per-query
memory caps written into config files (reference: presto-mgr.py:18-22,
:65-84). In Spark those map onto SparkConf; this module centralizes the
conf we want both locally (local[N]) and on a real cluster.

Scale stance (100 TB design, tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast-join demotion/promotion replace hand-tuning per query.
- shuffle.partitions is only the *initial* number; AQE coalesces. On a
  1000-executor cluster you'd raise initialPartitionNum instead.
- Arrow enabled: every pandas UDF crossing is vectorized.
- session timezone pinned UTC so timestamp semantics are stable across
  driver/executors and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def local_relation(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """A driver-built relation (``rows`` of positional tuples typed by
    ``schema``, a DDL string or StructType) as a ``LocalRelation``.

    ``spark.createDataFrame(rows, schema)`` over a Python list plans as
    a ``LogicalRDD`` over a pickled Python RDD, so every scan of it —
    each broadcast of a per-epoch weight table, say — runs tasks that
    wait on Python workers. The same rows handed over as an Arrow table
    plan as a ``LocalRelation``: a broadcast of it is a driver-local
    ``LocalTableScan`` and no task starts a Python worker. Schema and
    rows are those of the list path; a naive ``datetime`` in a
    TIMESTAMP column is read as UTC, the engine's session time zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


# The driver-local tier for bounded iterative loops, the near-dup exact
# tier and the saved ANN index's admit and top-k: an operator whose
# relation has at most this many rows collects it once and computes on
# the driver (the near-dup tier also caps its prefix collisions at it,
# the ANN top-k its candidate pairs); a larger one runs its distributed
# jobs. Read at call time, so tests can force either tier by setting it.
LOCAL_LOOP_ROWS = 1_000_000


def collect_bounded(df: DataFrame):
    """``df`` as a ``pyarrow.Table`` when it has at most
    ``LOCAL_LOOP_ROWS`` rows, else None.

    Iterative operators (the classifier's epochs, connected components'
    rounds) call this once before their loop: each distributed round
    pays a full plan, AQE and collect cycle for milliseconds of work,
    so a relation that fits is iterated in numpy instead. The near-dup
    exact tier (``dedup._local_jaccard_pairs``) calls it on its
    persisted shingle relation in place of the prefix join, verify and
    their ~25 jobs. The saved ANN index's admit
    (``similarity._local_admit``) calls it on the batch and the
    quantizers, and ``ivfpq_topk`` (``similarity._local_ivfpq_topk``) on
    the query vectors, the codes and the quantizers, in place of the
    encode and ADC scoring plans. At most ``LOCAL_LOOP_ROWS + 1`` rows
    are ever collected.
    """
    table = df.limit(LOCAL_LOOP_ROWS + 1).toArrow()
    return None if table.num_rows > LOCAL_LOOP_ROWS else table


def get_spark(
    app_name: str = "presto-on-ray-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r15 (guide §2.2): size post-shuffle partitions by the
        # advisory BYTE target, not up to the core count — with the
        # default parallelismFirst=true every sub-64MB shuffle still
        # fans out to `cpus` near-empty reduce tasks, which is pure
        # scheduling overhead locally and the small-partition
        # anti-pattern at cluster scale (Spark's own docs recommend
        # false on busy clusters). Parallelism for large inputs is
        # unaffected (partitions are created per advisory bytes).
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        # r15: let AQE re-optimize (coalesce) the plans of CACHED
        # relations too. The engine persists every reused index/feature
        # relation; with the default=false those caches freeze the
        # initial shuffle fan-out, so every downstream stage over a
        # cache runs `cpus` tasks regardless of size (measured: the
        # ingest-chain key dropped 1866 -> 197 tasks with identical
        # results — the suite's oracles are partitioning-insensitive
        # by construction, integer/order-insensitive aggregates).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small dims (region/nation/supplier/customer at low SF) should
        # always broadcast; 64 MB covers every dim at sf0.1 while at
        # cluster scale AQE re-checks actual sizes at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Single large parquet files must still parallelize: cap split
        # size so local[32] gets >=32 input partitions at sf0.1.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Generated-class LRU (static conf). Spark's 100 entries are
        # fewer than one corpus pass compiles (~108 classes for the
        # three corpus keys, ~178 for a perfbench pass): the LRU would
        # evict a pass's own classes and every repeat of a plan would
        # pay 1.2-2.2 s of Janino again. 1000 holds a session's plans.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # Python<->JVM data sockets over AF_UNIX (static conf). Over
    # loopback TCP each toLocalIterator partition pull waits out a
    # ~40 ms delayed ACK: the JVM answers the 4-byte request with
    # separate small writes, which Nagle holds until the ACK. The REST
    # and CLI pages pull partitions this way. A socket directory set in
    # the overrides below replaces this one.
    socket_dir = _socket_dir()
    if socket_dir is not None:
        builder = builder.config(
            "spark.python.unix.domain.socket.enabled", "true"
        ).config("spark.python.unix.domain.socket.dir", socket_dir)
    # Deployment-specific overrides without code edits (r15): a JSON
    # object of conf key/values in $SPARK_GRAFT_EXTRA_CONF — how a
    # cluster run re-tunes the scale-dependent knobs above (advisory
    # partition size, broadcast threshold, split size) while the
    # defaults stay sized for the driver's local[cpus] bench.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        try:
            parsed = json.loads(env_conf)
        except ValueError as e:
            raise ValueError(
                f"$SPARK_GRAFT_EXTRA_CONF is not valid JSON: {env_conf!r} ({e})"
            ) from e
        if not isinstance(parsed, dict):
            raise ValueError(
                "$SPARK_GRAFT_EXTRA_CONF must be a JSON object of conf "
                f"key/values, got {type(parsed).__name__}: {env_conf!r}"
            )
        for k, v in parsed.items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


# Spark names each data socket ``<dir>/.<uuid4>.sock``; AF_UNIX paths
# hold at most 107 bytes (``sun_path`` less its NUL).
_SOCKET_NAME_BYTES = len("/.00000000-0000-0000-0000-000000000000.sock")
_SOCKET_PATH_MAX = 107


def _socket_dir() -> str | None:
    """The directory for the Python<->JVM AF_UNIX sockets: the temp
    directory when a socket path in it fits, else ``/tmp``; None when
    the platform has no AF_UNIX.

    Spark's default is ``java.io.tmpdir``, which a caller may point at
    a deep per-run directory: a socket path there would be too long and
    the SparkContext would fail to start. A cluster deployment whose
    executors lack the driver's temp directory sets
    ``spark.python.unix.domain.socket.dir`` itself.
    """
    import socket
    import tempfile

    if not hasattr(socket, "AF_UNIX"):
        return None
    d = tempfile.gettempdir()
    return d if len(os.fsencode(d)) + _SOCKET_NAME_BYTES <= _SOCKET_PATH_MAX else "/tmp"


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    The driver hands ``entry(spark)`` a session we did not construct
    (mirroring how the reference attaches its CLI to an already-running
    coordinator, presto-mgr.py:268-273). Static conf (memory, master)
    cannot change post-launch, but these SQL confs can. The
    generated-class cache size ``get_spark`` sets
    (``spark.sql.codegen.cache.maxEntries``) is static conf too: a
    session built elsewhere, like the one handed to ``entry(spark)``,
    keeps its own value. So is the AF_UNIX transport
    (``spark.python.unix.domain.socket.enabled``): such a session keeps
    its Python<->JVM data sockets on loopback TCP, where each
    ``toLocalIterator`` partition pull waits out a ~40 ms delayed ACK.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
    )
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Presto has a first-class TIME type (SURVEY §1.2); Spark 4.1 ships
    # one behind this flag (literal, casts, hour/minute/second/extract,
    # ordering, parquet round-trip all native once enabled).
    spark.conf.set("spark.sql.timeType.enabled", "true")
    return spark

"""Thrift JDBC server — the over-the-wire `connect` surface.

The reference's coordinator speaks a wire protocol that presto-cli and
JDBC clients dial into (reference presto-mgr.py:268-273 execs the CLI
against `coordinator_host:port`). Spark's counterpart is
HiveThriftServer2: started in-process against the engine's session, it
serves the same catalog (temp views included) to any HiveServer2/JDBC
client — beeline ships in pyspark's jars, so the full client-server
round trip is testable offline (tests/test_thrift_server.py).

Usage:

    spark = get_spark(extra_conf=thrift_server_conf(port=10000))
    eng = Engine(spark).register_tables(sf_dir)
    start_thrift_server(spark)
    # then: beeline -u jdbc:hive2://localhost:10000 -e "select ..."

Or standalone:

    python -m presto_on_ray_spark.thrift_server \
        --sf-dir /root/testdata/sf0.01 --port 10000

Constraints: `spark.sql.hive.thriftServer.singleSession=true` is a
static conf — it must be set when the session is BUILT (that is what
makes the server share the engine session's temp views), hence
``thrift_server_conf`` rather than a post-hoc setting.
"""

from __future__ import annotations

import os
from pyspark.sql import SparkSession

DEFAULT_PORT = 10000


def thrift_server_conf(port: int = DEFAULT_PORT) -> dict[str, str]:
    """Static session conf required before starting the server."""
    return {
        "hive.server2.thrift.port": str(port),
        "spark.sql.hive.thriftServer.singleSession": "true",
    }


def start_thrift_server(spark: SparkSession):
    """Start HiveThriftServer2 sharing this session's catalog. Returns
    the server handle (stops with the JVM / spark.stop())."""
    return (
        spark._jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
        .startWithContext(spark._jsparkSession.sqlContext())
    )


def beeline_argv(port: int, sql: str, outputformat: str = "csv2") -> list[str]:
    """Command line for the bundled beeline JDBC client — the wire-side
    equivalent of the reference's presto-cli invocation."""
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    java = os.path.join(os.environ.get("JAVA_HOME", "/usr"), "bin", "java")
    return [
        java, "-cp", jars, "org.apache.hive.beeline.BeeLine",
        "-u", f"jdbc:hive2://localhost:{port}", "-n", "spark",
        "--silent=true", f"--outputformat={outputformat}",
        "-e", sql,
    ]


def main(argv: list[str] | None = None) -> int:
    import argparse
    import signal
    import sys
    import time

    parser = argparse.ArgumentParser(prog="python -m presto_on_ray_spark.thrift_server")
    parser.add_argument("--sf-dir", default=None)
    parser.add_argument("--port", type=int, default=DEFAULT_PORT)
    parser.add_argument("--master", default="local[*]")
    args = parser.parse_args(argv)

    from presto_on_ray_spark.engine import Engine
    from presto_on_ray_spark.session import get_spark

    # a terminated server still runs spark.stop(), which removes the
    # session's socket files (a killed process leaves them behind)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = get_spark(
        app_name="presto-on-ray-spark-thrift",
        master=args.master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            **thrift_server_conf(args.port),
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        eng = Engine(spark)
        if args.sf_dir:
            eng.register_tables(args.sf_dir)
        start_thrift_server(spark)
        print(f"Thrift JDBC server on jdbc:hive2://localhost:{args.port} "
              f"(catalog: {args.sf_dir or 'session only'}); Ctrl-C to stop")
        while True:
            time.sleep(60)
    except KeyboardInterrupt:
        pass
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

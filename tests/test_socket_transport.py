"""The driver's Python<->JVM data sockets are AF_UNIX.

Over loopback TCP every ``toLocalIterator`` partition pull waited out a
~40 ms delayed ACK, once per REST or CLI page. ``get_spark`` turns on
``spark.python.unix.domain.socket.enabled`` and picks a socket
directory short enough for AF_UNIX's 107-byte path limit. The conf is
static, so the directory cases run in child processes.
"""

from __future__ import annotations

import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Builds a session with the environment's TMPDIR, drives every Python
# crossing that uses the data sockets, and reports the socket directory
# and which of the session's socket files a clean stop left there.
_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, %(repo)r)
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from presto_on_ray_spark.session import get_spark

def socks(d):
    return {f for f in os.listdir(d) if f.endswith(".sock")}

foreign = socks(os.environ["TMPDIR"]) | socks("/tmp")
spark = get_spark(
    master="local[2]", shuffle_partitions=2,
    extra_conf={"spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + %(java_tmp)r},
)
spark.sparkContext.setLogLevel("ERROR")
conf = spark.sparkContext.getConf()
sock_dir = conf.get("spark.python.unix.domain.socket.dir")

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

acc = spark.sparkContext.accumulator(0)
spark.sparkContext.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
out = {
    "enabled": conf.get("spark.python.unix.domain.socket.enabled"),
    "dir": sock_dir,
    "java_tmpdir": spark._jvm.java.lang.System.getProperty("java.io.tmpdir"),
    "iter": [r.id for r in spark.range(0, 5, 1, 3).toLocalIterator()],
    "udf": [r.v for r in spark.range(3).select(plus_one("id").alias("v")).collect()],
    "pandas": spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3]})).agg(F.sum("a")).first()[0],
    "acc": acc.value,
}
ours = socks(sock_dir) - foreign
spark.stop()
out["left"] = sorted(socks(sock_dir) & ours)
print("RESULT:" + json.dumps(out))
"""


def _run(tmpdir: str, java_tmp: str) -> dict:
    env = dict(os.environ, TMPDIR=tmpdir, SPARK_DRIVER_MEMORY="1g")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT % {"repo": REPO, "java_tmp": java_tmp}],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    return json.loads(line[0][len("RESULT:"):])


def _check_crossings(out: dict) -> None:
    assert out["enabled"] == "true"
    assert out["iter"] == [0, 1, 2, 3, 4]
    assert out["udf"] == [1, 2, 3]
    assert out["pandas"] == 6
    assert out["acc"] == 45
    assert out["left"] == []  # a clean stop removes its sockets


def test_long_temp_dir_falls_back_to_a_short_socket_dir(tmp_path):
    long_dir = tmp_path / ("d" * max(1, 101 - len(str(tmp_path))))
    long_dir.mkdir()
    assert len(str(long_dir)) >= 100
    out = _run(str(long_dir), str(long_dir))
    assert out["java_tmpdir"] == str(long_dir)
    assert out["dir"] != str(long_dir)
    assert len(os.fsencode(os.path.join(out["dir"], ".%s.sock" % ("0" * 36)))) <= 107
    _check_crossings(out)


def test_short_temp_dir_holds_the_sockets(tmp_path):
    short_dir = tempfile.mkdtemp(prefix="uds-", dir="/tmp")
    try:
        out = _run(short_dir, str(tmp_path))
        assert out["dir"] == short_dir
        _check_crossings(out)
    finally:
        shutil.rmtree(short_dir, ignore_errors=True)


def test_partition_pull_pays_no_loopback_stall(spark):
    """Draining a 1-row frame through toLocalIterator costs about what
    collect() does. Over loopback TCP the one partition pull alone
    waited ~40 ms longer (Nagle's algorithm plus the delayed ACK)."""
    assert spark.sparkContext.getConf().get("spark.python.unix.domain.socket.enabled") == "true"
    df = spark.range(0, 1, 1, 1)

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    for _ in range(3):  # warm both paths
        list(df.toLocalIterator())
        df.collect()
    pulls = [timed(lambda: list(df.toLocalIterator())) for _ in range(9)]
    collects = [timed(df.collect) for _ in range(9)]
    assert statistics.median(pulls) < statistics.median(collects) + 0.020


def _socks(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if f.endswith(".sock"))


def test_cli_leaves_no_sockets_and_keeps_stdout_clean():
    short_dir = tempfile.mkdtemp(prefix="uds-", dir="/tmp")
    try:
        env = dict(os.environ, TMPDIR=short_dir, SPARK_DRIVER_MEMORY="1g")
        env.pop("SPARK_GRAFT_EXTRA_CONF", None)
        proc = subprocess.run(
            [sys.executable, "-m", "presto_on_ray_spark.cli", "--master", "local[2]",
             "-e", "SELECT id FROM range(0, 5, 1, 3)"],
            capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "(5 rows)" in proc.stdout
        assert "Traceback" not in proc.stdout and "BrokenPipeError" not in proc.stdout
        assert _socks(short_dir) == []
    finally:
        shutil.rmtree(short_dir, ignore_errors=True)


def test_terminated_rest_server_stops_spark():
    """SIGTERM runs rest_server.main's spark.stop(): no socket file is
    left in the socket directory."""
    short_dir = tempfile.mkdtemp(prefix="uds-", dir="/tmp")
    env = dict(os.environ, TMPDIR=short_dir, SPARK_DRIVER_MEMORY="1g",
               SPARK_GRAFT_CPUS="2")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    proc = subprocess.Popen(
        [sys.executable, "-m", "presto_on_ray_spark.rest_server", "--port", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=REPO, env=env,
    )
    try:
        assert select.select([proc.stdout], [], [], 240)[0], "server did not start"
        assert "serving Presto REST protocol" in proc.stdout.readline()
        assert _socks(short_dir)  # the live session's sockets
        proc.send_signal(signal.SIGTERM)
        assert proc.wait(120) == 143
        assert _socks(short_dir) == []
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        proc.stdout.close()
        shutil.rmtree(short_dir, ignore_errors=True)

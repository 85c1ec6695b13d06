import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from presto_on_ray_spark.session import get_spark

    spark = get_spark(
        app_name="presto-on-ray-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024)},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT


@pytest.fixture
def loop_tiers(monkeypatch):
    """``run(fn)`` calls ``fn()`` twice, first with the driver-local
    tier of the iterative operators and the near-dup exact tier forced
    (``session.LOCAL_LOOP_ROWS`` above any test input), then with the
    distributed tier forced (0), and returns ``(local, distributed)``."""
    from presto_on_ray_spark import session

    def run(fn):
        default, out = session.LOCAL_LOOP_ROWS, []
        for rows in (10**9, 0):
            monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", rows)
            out.append(fn())
        monkeypatch.setattr(session, "LOCAL_LOOP_ROWS", default)
        return tuple(out)

    return run

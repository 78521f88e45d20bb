from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procoggraph_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _host_memory_mb() -> int | None:
    """RAM this process may use: MemTotal, capped by a cgroup v2 limit."""
    limits = []
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) // 1024)
                    break
    except OSError:
        pass
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            raw = fh.read().strip()
        if raw.isdigit():
            limits.append(int(raw) // (1024 * 1024))
    except OSError:
        pass
    return min(limits) if limits else None


def _test_driver_heap() -> str:
    """Driver heap for the shared test session, sized to the host.

    The engine default (16g) is meant for a dedicated large host. On a
    16 GB machine G1 grows the heap until the kernel kills the JVM part
    way through the suite (during tests/test_dress_rehearsal.py), and
    every later Spark test then fails on a refused socket. The whole
    suite passes with a 6 GB heap, so take 3/8 of the host's RAM, kept
    within [2g, 16g]; the rest is left to the Python workers and the
    JVM's non-heap memory.
    """
    mb = _host_memory_mb()
    if mb is None:
        return "16g"
    return f"{max(2048, min(16384, mb * 3 // 8))}m"


# set before the first session starts; an explicit setting wins
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _test_driver_heap())


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("procoggraph_tests", shuffle_partitions=8)
    yield spark
    spark.stop()

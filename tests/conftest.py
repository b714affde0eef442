from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_cloudrun_demo_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# one JSON line per test: the suite's own cost ledger (wall time, Python
# RSS growth, Spark jobs), appended across runs
LEDGER = "/tmp/tier1_ledger.jsonl"


def _rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _last_job_id() -> int | None:
    """Newest Spark job id of the active context (-1 before any job);
    None when no context is running."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    try:
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)
    except (AttributeError, Py4JError):  # a context stopped mid-test
        return None


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_protocol(item, nextitem):
    """Observe each test (setup, call and teardown): it changes nothing
    about how the test runs."""
    t0, rss0, j0 = time.monotonic(), _rss_mb(), _last_job_id()
    yield
    j1, rss1 = _last_job_id(), _rss_mb()
    rec = {
        "nodeid": item.nodeid,
        "wall_s": round(time.monotonic() - t0, 3),
        "py_rss_mb": round(rss1, 1),
        "py_rss_delta_mb": round(rss1 - rss0, 1),
        "spark_jobs": None if j1 is None else j1 - (-1 if j0 is None else j0),
        "pid": os.getpid(),
    }
    try:
        with open(LEDGER, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
    except OSError:
        pass


@pytest.fixture(scope="session")
def spark():
    # as many task slots as the machine's CPUs (the tier-1 command exports
    # SPARK_GRAFT_CPUS; 8 when unset); 8 shuffle partitions either way, so
    # partition-count assertions keep their meaning
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "8"
    s = get_spark(app_name="tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE

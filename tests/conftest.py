from __future__ import annotations

import faulthandler
import sys
import threading
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from forest_open_data_pipelines_spark.session import get_spark

    spark = get_spark("forest-pipelines-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


#: Per-test time limit: the slowest test takes about a minute on 4
#: cores, so a test past this is stuck, not slow.
TEST_TIME_LIMIT_S = 600


def _overrun(spark, group: str) -> None:
    """Dump every thread's stack, then cancel the stuck test's jobs by
    its job group: the test fails and the suite goes on."""
    faulthandler.dump_traceback(file=sys.stderr, all_threads=True)
    spark.sparkContext.cancelJobGroup(group)


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    """Run each test that uses ``spark`` in its own query scope: its
    jobs carry the test id as job group, and what it persisted or
    checkpointed is freed when it ends, pass or fail. A hook, not an
    autouse fixture: a function-scoped fixture would trip Hypothesis's
    ``function_scoped_fixture`` health check on the ``@given`` tests.
    A test still running after ``TEST_TIME_LIMIT_S`` gets ``_overrun``."""
    if "spark" not in getattr(item, "fixturenames", ()):
        return (yield)
    from forest_open_data_pipelines_spark.runtime import query_scope

    spark = item.funcargs["spark"]
    timer = threading.Timer(TEST_TIME_LIMIT_S, _overrun, (spark, item.nodeid))
    timer.daemon = True
    timer.start()
    try:
        with query_scope(spark, item.nodeid):
            return (yield)
    finally:
        timer.cancel()

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vrod_spark.session import get_spark, jvm_counters

SF_SMOKE = "/root/testdata/sf0.001"


#: The session JVM's ``jvm_counters`` read at teardown; reported in the
#: terminal summary so a suite run shows its JIT/GC cost and code-cache peak.
TEARDOWN_COUNTERS = pytest.StashKey[dict]()


@pytest.fixture(scope="session")
def spark(request):
    spark = get_spark("vrod-spark-tests")
    yield spark
    request.config.stash[TEARDOWN_COUNTERS] = jvm_counters(spark)
    spark.stop()


def pytest_terminal_summary(terminalreporter, config):
    counters = config.stash.get(TEARDOWN_COUNTERS, None)
    if counters:
        terminalreporter.write_line(json.dumps(
            {"metric": "jvm_counters", "phase": "session_teardown", **counters}
        ))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE

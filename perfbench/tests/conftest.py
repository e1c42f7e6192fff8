"""Fixtures for the benchmark's own tests:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

One local session for the whole module set, with Spark's event log on so
the fold can be tested against real events.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# everything the tests write stays in the checkout, like the runner's output
OUT = os.path.join(ROOT, ".perfbench_out", "tests")
os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
os.environ.update(
    TMPDIR=os.path.join(OUT, "tmp"),
    SPARK_LOCAL_DIRS=os.path.join(OUT, "local"),
    JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
)


def pytest_configure(config):
    if not config.option.basetemp:
        config.option.basetemp = os.path.join(OUT, "pytest")


@pytest.fixture(scope="session")
def event_log_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="session")
def spark(event_log_dir):
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from osm_spark.session import get_spark

    s = get_spark(
        app_name="perfbench_tests", master="local[4]", shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(os.path.join(OUT, "checkpoint"))
    yield s

"""Shared pytest fixtures: one session-scoped local SparkSession."""

from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    # Spark 4 defaults (ANSI on) — the engine must behave identically under
    # the driver's session, so we do not override dialect settings here.
    s = get_spark(app_name="osm_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med_dir():
    return SF_MED


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), Spark jobs fn launched)``, counted by a
    job group unique to the call."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def rung(monkeypatch):
    """``rung(on)`` forces the connected-components driver rung on or off
    (``DRIVER_MAX_EDGES = 0`` turns it off) and returns the list that
    records each driver-rung call."""
    import osm_spark.graph.components as components

    calls = []
    orig, ceiling = components._driver_components, components.DRIVER_MAX_EDGES

    def spy(*args):
        calls.append(args)
        return orig(*args)

    monkeypatch.setattr(components, "_driver_components", spy)

    def force(on: bool):
        monkeypatch.setattr(components, "DRIVER_MAX_EDGES", ceiling if on else 0)
        return calls

    return force

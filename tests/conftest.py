from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducemovieanalysis_cloud_spark.session import get_session  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def executed_plan(spark, sf_dir):
    """name -> executed plan of that registry query at ``sf_dir``, built
    once per session: the registry-wide plan sweep and each wave's
    hygiene check read the same plan instead of re-building the query."""
    from mapreducemovieanalysis_cloud_spark import plans, registry

    cache: dict[str, str] = {}

    def plan_of(name: str) -> str:
        if name not in cache:
            fn = registry.queries()[name]
            cache[name] = plans.executed_plan(fn(spark, sf_dir))
        return cache[name]

    return plan_of

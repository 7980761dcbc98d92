import os

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: a long-running test (deselect with -m 'not slow')"
    )


@pytest.fixture(scope="session")
def spark():
    from datapipelines_spark.session import get_spark

    # one Spark thread and one shuffle partition per CPU the run was given
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark(
        app_name="tests",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_cache_scope():
    """Release the session cache scope after every test module: the
    suite's bound on cached tables and memoized probes."""
    yield
    from datapipelines_spark.functions.caching import release_persists

    release_persists()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE

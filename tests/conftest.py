from __future__ import annotations

import os

import pytest

from datasketches_server_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # fit the session to the host: its cores, and a driver heap that
    # stays well inside a small host's memory (the library default is
    # sized for a large box; an uncapped test JVM grows until the host
    # kills it partway through the suite)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    s = get_spark("tests", cores=cores, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"

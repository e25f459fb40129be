import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from vfs_spark.session import get_spark

    s = get_spark("vfs-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF


@pytest.fixture(params=["driver", "distributed"])
def dispatch_path(request, monkeypatch):
    """Run a test once per driver-twin path. ``driver`` keeps the
    DRIVER_MAX bounds (far above every test input); ``distributed``
    pins every bound to -1, so no twin collects."""
    from vfs_spark import dispatch

    if request.param == "distributed":
        for name in dispatch.DRIVER_MAX:
            monkeypatch.setitem(dispatch.DRIVER_MAX, name, -1)
    return request.param

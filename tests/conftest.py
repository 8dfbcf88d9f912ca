import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yaii_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("yaii-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def work_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("index")
    yield str(d)
    shutil.rmtree(str(d), ignore_errors=True)


@pytest.fixture(params=["driver", "job"])
def placement(request, monkeypatch):
    """Runs a test under each query placement (executor.run_per_segment):
    "driver" leaves the threshold as shipped, so a small query runs on
    the driver; "job" sets it to 0, so every query runs as one Spark
    job."""
    if request.param == "job":
        from yaii_spark.queries import executor

        monkeypatch.setattr(executor, "DRIVER_POSTINGS", 0)
    return request.param

from __future__ import annotations

import os
import shlex
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_hudi_example_spark.session import get_spark_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    """The default run deselects tests marked ``slow`` (long-running
    coverage). An explicit ``-m`` wins, and so does a run whose every
    argument names single tests (``file::name``) — selecting a slow
    test by node id runs it."""
    args = [str(a) for a in config.invocation_params.args]
    args += shlex.split(os.environ.get("PYTEST_ADDOPTS", ""))
    if any(a.startswith("-m") for a in args):
        return
    if config.args and all("::" in a for a in config.args):
        return
    config.option.markexpr = "not slow"


@pytest.fixture(scope="session")
def spark():
    s = get_spark_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


@pytest.fixture(scope="session")
def spark():
    from vrl_spark.session import get_spark

    s = get_spark("perfbench_tests", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkotel.parity import duck_con  # noqa: E402
from sparkotel.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARKOTEL_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="sparkotel-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duck_con(SF_DIR)
    yield con
    con.close()

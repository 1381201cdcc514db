from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from fairy_spark.config import EngineConfig
from fairy_spark.session import get_spark
from fairy_spark.testing.oracle import duck_connect

SF_DIR = os.environ.get("FAIRY_SPARK_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = os.environ.get("FAIRY_SPARK_TEST_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def warehouse_dir():
    d = tempfile.mkdtemp(prefix="fairy_spark_wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def spark(warehouse_dir):
    cfg = EngineConfig(
        master="local[8]",
        shuffle_partitions=8,
        driver_memory="8g",
        warehouse_dir=warehouse_dir,
    )
    s = get_spark(cfg)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


def pytest_terminal_summary(terminalreporter):
    """Name the parity gate when the default ``-m "not parity"`` left it
    out, so a green default run is not mistaken for the full gate."""
    if "not parity" not in terminalreporter.config.getoption("markexpr"):
        return
    n = sum(
        1
        for item in terminalreporter.stats.get("deselected", ())
        if item.get_closest_marker("parity")
    )
    if n:
        terminalreporter.write_sep("-", "parity gate not run", yellow=True)
        terminalreporter.write_line(
            f"{n} parity items deselected; run them with: "
            "python -m pytest tests/ -q -m parity"
        )

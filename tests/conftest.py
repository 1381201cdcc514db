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


@pytest.fixture()
def assert_one_bucket_read(monkeypatch):
    """Check that a point read of ``key`` touches exactly one bucket:
    the files the direct get hands to pyarrow, and the files in the
    scan partitions of the Spark lookup (``KVStore._get_spark``), are
    both the on-disk files of bucket ``bucket_of(key)`` at the fanout
    the catalog holds. (The scan's "number of files read" metric counts
    the listed files before bucket pruning, so it is not used.)"""
    import re
    from urllib.parse import unquote, urlparse

    import fairy_spark.kv as kv_mod

    def file_bucket(path: str) -> int:
        return int(re.search(r"_(\d+)(?:\..*)?$", path).group(1))

    def check(kv, key: str) -> None:
        opened, frames = [], []
        frame_cls = type(kv.spark.range(0))
        read_table, collect = kv_mod.pq.read_table, frame_cls.collect

        def spy_read(files, **kw):
            opened.extend(files)
            return read_table(files, **kw)

        def spy_collect(df):
            frames.append(df)
            return collect(df)

        with monkeypatch.context() as m:
            m.setattr(kv_mod.pq, "read_table", spy_read)
            m.setattr(frame_cls, "collect", spy_collect)
            kv.exists(key)
            kv._get_spark([key])
        info = kv._catalog_info()
        assert int(info["Num Buckets"]) == kv.num_buckets
        bucket = kv.bucket_of(key)
        loc = unquote(urlparse(info["Location"]).path)
        on_disk = sorted(
            n for n in os.listdir(loc)
            if not n.startswith(("_", ".")) and file_bucket(n) == bucket
        )
        assert on_disk, "probe key's bucket holds no file"
        assert sorted(os.path.basename(f) for f in opened) == on_disk
        # _get_spark's collect is the last; a listing refresh collects DESCRIBE
        frame = frames[-1]
        leaves = frame._jdf.queryExecution().executedPlan().collectLeaves()
        scanned = [
            os.path.basename(unquote(urlparse(f.filePath().toString()).path))
            for i in range(leaves.size())
            for part in leaves.apply(i).inputRDDs().head().partitions()
            for f in part.files()
        ]
        assert sorted(scanned) == on_disk

    return check


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

"""End-to-end remote get/put round-trip over the serving plane
(fairy_spark/serving.py) — the executable A5 analog: a real client
(urllib over loopback TCP) PUTs blobs and GETs them back through the
engine's durable KV log, including the multi-chunk body the
reference's h2 put path truncates (h2_service.rs:98)."""

from __future__ import annotations

import json
import urllib.request
from urllib.parse import quote

import pytest

from fairy_spark.serving import serve


def _req(method: str, url: str, data: bytes | None = None):
    req = urllib.request.Request(url, data=data, method=method)
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


KV_NAME = "kv_http_test"


@pytest.fixture(scope="module")
def engine(spark):
    from fairy_spark.engine import Engine

    return Engine(spark=spark)


@pytest.fixture(scope="module")
def server(engine):
    with serve(engine, kv_name=KV_NAME) as (host, port):
        yield f"http://{host}:{port}"


def test_put_get_roundtrip_small(server):
    st, _ = _req("PUT", f"{server}/put/alpha", b"hello fairy")
    assert st == 200
    st, body = _req("GET", f"{server}/get/alpha")
    assert (st, body) == (200, b"hello fairy")


def test_put_get_roundtrip_multichunk_binary(server):
    # > one 64 KiB read so the ingest loop must iterate — the exact
    # case the reference's first-frame-only put path truncates.
    blob = bytes(range(256)) * 1024  # 256 KiB, all byte values
    st, _ = _req("PUT", f"{server}/put/big", blob)
    assert st == 200
    st, body = _req("GET", f"{server}/get/big")
    assert st == 200
    assert body == blob  # full length, bit-exact


def test_get_missing_is_404(server):
    st, _ = _req("GET", f"{server}/get/definitely-absent")
    assert st == 404


def test_overwrite_is_last_write_wins(server):
    _req("PUT", f"{server}/put/dup", b"v1")
    _req("PUT", f"{server}/put/dup", b"v2")
    st, body = _req("GET", f"{server}/get/dup")
    assert (st, body) == (200, b"v2")


def test_exists_and_prefix_listing(server):
    _req("PUT", f"{server}/put/dir1%2Fa", b"x")
    _req("PUT", f"{server}/put/dir1%2Fb", b"y")
    st, body = _req("GET", f"{server}/exists/dir1%2Fa")
    assert (st, body) == (200, b"true")
    st, body = _req("GET", f"{server}/exists/dir1%2Fzzz")
    assert (st, body) == (200, b"false")
    st, body = _req("GET", f"{server}/keys?prefix=dir1/")
    assert st == 200
    assert body.decode().splitlines() == ["dir1/a", "dir1/b"]


def test_delete_through_engine_is_404_and_not_exists(server, engine):
    _req("PUT", f"{server}/put/doomed", b"bye")
    assert _req("GET", f"{server}/get/doomed") == (200, b"bye")
    engine.kv(KV_NAME).delete("doomed")
    st, _ = _req("GET", f"{server}/get/doomed")
    assert st == 404
    assert _req("GET", f"{server}/exists/doomed") == (200, b"false")


def test_non_ascii_key_with_slash_roundtrips(server):
    key = quote("ключ/ü 🙂", safe="")
    st, _ = _req("PUT", f"{server}/put/{key}", "значение".encode())
    assert st == 200
    assert _req("GET", f"{server}/get/{key}") == (200, "значение".encode())
    assert _req("GET", f"{server}/exists/{key}") == (200, b"true")


def test_sql_endpoint(server):
    st, body = _req("POST", f"{server}/sql", b"SELECT 1 AS one, 'x' AS s")
    assert st == 200
    out = json.loads(body)
    assert out["columns"] == ["one", "s"]
    assert out["rows"] == [[1, "x"]]


def test_sql_endpoint_analysis_error_is_400(server):
    st, _ = _req("POST", f"{server}/sql", b"SELECT * FROM no_such_table_xyz")
    assert st == 400

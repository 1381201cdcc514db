"""Unit tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest

from perfbench import loadgen
from perfbench.corpus_curate import digest
from perfbench.tracing import match_children

ROOT = Path(__file__).resolve().parents[2]


# -- percentile rule ---------------------------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    assert loadgen.percentile([float(i) for i in range(99)], 90) is None
    assert loadgen.percentile([float(i) for i in range(100)], 90) == 89.0


def test_median_is_always_reported():
    assert loadgen.percentile([3.0], 50) == 3.0
    assert loadgen.percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert loadgen.percentile([], 50) is None


# -- seeded load generation --------------------------------------------------

def _keys(seed: int, stream: int, n: int = 500) -> list[tuple[str, bool]]:
    s = loadgen.ZipfSampler(1000, seed).stream(stream)
    return [s.next(seed) for _ in range(n)]


def test_zipf_streams_repeat_per_seed_and_differ_across_seeds():
    assert _keys(7, 0) == _keys(7, 0)
    assert _keys(7, 0) != _keys(8, 0)
    assert _keys(7, 0) != _keys(7, 1)


def test_zipf_is_skewed_and_absent_share_holds():
    keys = _keys(3, 0, 20_000)
    absent = sum(a for _, a in keys)
    assert 0.04 < absent / len(keys) < 0.06
    present = [k for k, a in keys if not a]
    top = max(present.count(k) for k in set(present[:50]))
    assert top > 20 * len(present) / 1000  # hottest key far above uniform
    assert all(k.startswith("s3-absent") for k, a in keys if a)


def test_shard_order_is_a_seeded_permutation():
    assert loadgen.shard_order(5, 40) == loadgen.shard_order(5, 40)
    assert sorted(loadgen.shard_order(5, 40)) == list(range(40))
    assert loadgen.shard_order(5, 40) != loadgen.shard_order(6, 40)


def test_value_encodes_key_and_version():
    v = loadgen.make_value("s1-k000001", 42)
    assert len(v) == loadgen.VALUE_BYTES
    assert loadgen.decode_value(v) == ("s1-k000001", 42)
    assert loadgen.decode_value(b"garbage") is None


# -- span arithmetic ---------------------------------------------------------

def test_self_time_subtracts_covered_part_once():
    assert loadgen.self_time((0.0, 10.0), []) == 10.0
    assert loadgen.self_time((0.0, 10.0), [(2.0, 5.0)]) == 7.0
    # overlapping children count once; parts outside the span are clipped
    assert loadgen.self_time((0.0, 10.0), [(2.0, 5.0), (4.0, 6.0), (9.0, 12.0)]) == 5.0
    assert loadgen.self_time((0.0, 10.0), [(-5.0, 20.0)]) == 0.0


def test_match_children_by_key_and_containment():
    parents = [
        {"id": "c1", "rid": "r1", "key": "a", "start": 0.0, "end": 5.0},
        {"id": "c2", "rid": "r2", "key": "a", "start": 6.0, "end": 9.0},
    ]
    kids = [
        {"key": "a", "start": 7.0, "end": 8.0, "parent": None, "rid": None},
        {"key": "b", "start": 1.0, "end": 2.0, "parent": None, "rid": None},
    ]
    match_children(parents, kids)
    assert (kids[0]["parent"], kids[0]["rid"]) == ("c2", "r2")
    assert kids[1]["parent"] is None


# -- failure classification --------------------------------------------------

@pytest.mark.parametrize(
    "absent,status,body,min_version,error,expected",
    [
        (False, 200, loadgen.make_value("k", 3), 0, None, loadgen.OK),
        (False, 200, loadgen.make_value("k", 3), 4, None, loadgen.WRONG),  # stale
        (False, 200, loadgen.make_value("other", 3), 0, None, loadgen.WRONG),
        (False, 200, loadgen.make_value("k", 3)[:-1] + b"!", 0, None, loadgen.WRONG),
        (True, 404, b"not found", 0, None, loadgen.ABSENT_OK),
        (False, 404, b"not found", 0, None, loadgen.HTTP_ERROR),
        (True, 200, loadgen.make_value("k", 0), 0, None, loadgen.WRONG),
        (False, 500, b"boom", 0, None, loadgen.HTTP_ERROR),
        (False, None, None, 0, ConnectionResetError(), loadgen.EXCEPTION),
    ],
)
def test_classify_get(absent, status, body, min_version, error, expected):
    got = loadgen.classify_get("k", absent, status, body, min_version, error)
    assert got == expected
    assert (got in loadgen.FAILED) == (expected not in (loadgen.OK, loadgen.ABSENT_OK))


# -- result digests and the benchmark spec -----------------------------------

def test_digest_ignores_row_and_column_order_and_int_width():
    a = pd.DataFrame({"doc_id": [2, 1], "split": ["b", "a"]})
    b = pd.DataFrame({"split": ["a", "b"], "doc_id": pd.Series([1, 2], dtype="int32")})
    assert digest(a) == digest(b)
    assert digest(a) != digest(a.assign(split=["b", "c"]))


def test_spec_workloads_match_runner():
    from perfbench.run import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])

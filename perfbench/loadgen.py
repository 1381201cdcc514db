"""Seeded input generation and result classification for the benchmark.

Everything here is pure Python over the workload seed: the program under
test only ever sees the keys, values and corpus shard ids produced here.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

VALUE_BYTES = 1024
ZIPF_S = 0.99
ABSENT_SHARE = 0.05
# A percentile is reported only when at least this many samples lie
# strictly beyond it (p90 therefore needs >= 100 samples).
MIN_TAIL_SAMPLES = 10


# -- keys and values ---------------------------------------------------------

def present_key(seed: int, i: int) -> str:
    return f"s{seed}-k{i:06d}"


def absent_key(seed: int, i: int) -> str:
    # Different prefix from present keys, so it can never collide.
    return f"s{seed}-absent{i:06d}"


def make_value(key: str, version: int) -> bytes:
    """Version-stamped value that encodes its key: ``key|v<version>|``
    followed by deterministic filler derived from (key, version)."""
    head = f"{key}|v{version:08d}|".encode()
    filler = hashlib.sha256(head).hexdigest().encode()
    reps = -(-(VALUE_BYTES - len(head)) // len(filler))
    return head + (filler * reps)[: VALUE_BYTES - len(head)]


def decode_value(value: bytes) -> tuple[str, int] | None:
    """(key, version) stamped in a value, or None if it carries no stamp."""
    try:
        key, ver, _ = value.split(b"|", 2)
        if not ver.startswith(b"v"):
            return None
        return key.decode(), int(ver[1:])
    except ValueError:
        return None


# -- input sampling ----------------------------------------------------------

class ZipfSampler:
    """Zipf(ZIPF_S) over ``n`` items; rank r has weight 1/(r+1)^ZIPF_S. Ranks map to
    item ids through a seeded permutation, so which keys are hot depends on
    the seed. Each stream (e.g. one per client) gets its own generator."""

    def __init__(self, n: int, seed: int):
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
        self._cdf = np.cumsum(w) / w.sum()
        self._perm = np.random.default_rng([seed, 0]).permutation(n)
        self._seed = seed

    def stream(self, stream_id: int) -> "KeyStream":
        return KeyStream(self, np.random.default_rng([self._seed, 2, stream_id]))

    def draw(self, rng: np.random.Generator) -> int:
        rank = int(np.searchsorted(self._cdf, rng.random(), side="right"))
        return int(self._perm[min(rank, len(self._perm) - 1)])


class KeyStream:
    """Key requests of one client: Zipf present keys, with ABSENT_SHARE of
    requests for keys that were never written."""

    def __init__(self, sampler: ZipfSampler, rng: np.random.Generator):
        self._sampler = sampler
        self._rng = rng

    def next(self, seed: int) -> tuple[str, bool]:
        """Returns (key, is_absent)."""
        if self._rng.random() < ABSENT_SHARE:
            return absent_key(seed, int(self._rng.integers(0, 1_000_000))), True
        return present_key(seed, self._sampler.draw(self._rng)), False


def shard_order(seed: int, pool: int) -> list[int]:
    """Seeded order in which corpus shards of the pool are curated."""
    return [int(x) for x in np.random.default_rng([seed, 1]).permutation(pool)]


# -- statistics --------------------------------------------------------------

def percentile(samples: list[float], q: float) -> float | None:
    """The q-th percentile (0 < q < 100, nearest-rank), or None when fewer
    than MIN_TAIL_SAMPLES samples would lie beyond it. The median of a
    non-empty sample is always reported."""
    if not samples:
        return None
    xs = sorted(samples)
    if q == 50:
        mid = len(xs) // 2
        return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2
    rank = max(1, math.ceil(q / 100 * len(xs)))
    if len(xs) - rank < MIN_TAIL_SAMPLES:
        return None
    return xs[rank - 1]


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Duration of ``span`` minus the part of it covered by ``children``
    (clipped to the span; overlapping children are counted once)."""
    lo, hi = span
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in children if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return (hi - lo) - covered


# -- failure accounting ------------------------------------------------------

OK, ABSENT_OK, WRONG, HTTP_ERROR, EXCEPTION = "ok", "absent_ok", "wrong", "http_error", "exception"
FAILED = {WRONG, HTTP_ERROR, EXCEPTION}


def classify_get(
    key: str,
    absent: bool,
    status: int | None,
    body: bytes | None,
    min_version: int = 0,
    error: BaseException | None = None,
) -> str:
    """Outcome of one GET. ``min_version`` is the newest version whose put
    was acknowledged before the GET was sent. A 404 passes only for a key
    that was never written; any other non-2xx, any exception and any value
    that does not decode to the requested key at a fresh enough version,
    or that differs from the bytes that version was written with, fails."""
    if error is not None or status is None:
        return EXCEPTION
    if status == 404:
        return ABSENT_OK if absent else HTTP_ERROR
    if not 200 <= status < 300:
        return HTTP_ERROR
    if absent or body is None:
        return WRONG
    stamp = decode_value(body)
    if stamp is None or stamp[0] != key or stamp[1] < min_version:
        return WRONG
    return OK if body == make_value(key, stamp[1]) else WRONG

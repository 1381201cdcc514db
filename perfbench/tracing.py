"""Tracing from outside the program: spans recorded around calls into its
public functions, and Spark work attributed to a span through a job group
named after it. Used only by traced runs (``--trace 1``)."""

from __future__ import annotations

import itertools
import json
import threading
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError


class Spans:
    """In-memory span log: (name, start, end, parent, request id, attrs).
    Thread-safe; written out once when the run ends."""

    def __init__(self):
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self.items: list[dict] = []

    def new_id(self) -> str:
        with self._lock:
            return f"sp{next(self._ids)}"

    def add(self, name: str, start: float, end: float, span_id: str | None = None,
            parent: str | None = None, rid: str | None = None, **attrs) -> str:
        span_id = span_id or self.new_id()
        rec = {"id": span_id, "name": name, "start": start, "end": end,
               "parent": parent, "rid": rid, **attrs}
        with self._lock:
            self.items.append(rec)
        return span_id

    def named(self, name: str) -> list[dict]:
        with self._lock:
            return [s for s in self.items if s["name"] == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")


def match_children(parents: list[dict], children: list[dict], key: str = "key") -> None:
    """Link each child span to the parent span with the same ``key`` whose
    interval contains it (sets child["parent"] / child["rid"])."""
    by_key: dict[str, list[dict]] = {}
    for p in parents:
        by_key.setdefault(p[key], []).append(p)
    for c in children:
        for p in by_key.get(c[key], ()):
            if p["start"] <= c["start"] and c["end"] <= p["end"]:
                c["parent"], c["rid"] = p["id"], p["rid"]
                break


class SparkWork:
    """Tasks, task time, input rows and shuffle bytes of the Spark jobs run
    under one job group, read from the driver's status store."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._no_status = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def tag(self, group: str) -> None:
        """Run the calling thread's next Spark jobs under ``group``."""
        self._sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict[str, float]:
        jobs = list(self._sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in jobs:
            seq = self._store.job(jid).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        out = {"jobs": float(len(jobs)), "tasks": 0.0, "task_ms": 0.0,
               "input_records": 0.0, "shuffle_write_bytes": 0.0}
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            except Py4JJavaError:  # stage planned but never submitted
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                out["tasks"] += sd.numCompleteTasks()
                out["task_ms"] += sd.executorRunTime()
                out["input_records"] += sd.inputRecords()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out


class TracedKV:
    """Proxy of a KVStore: records a span per get and tags the Spark jobs
    each get runs with the span's id."""

    def __init__(self, kv, spans: Spans, work: SparkWork):
        self._kv, self._spans, self._work = kv, spans, work

    def __getattr__(self, name):
        return getattr(self._kv, name)

    def get(self, key: str) -> bytes:
        span_id = self._spans.new_id()
        self._work.tag(span_id)
        start = time.perf_counter()
        found = True
        try:
            return self._kv.get(key)
        except KeyError:  # KeyNotFound: the handler turns it into a 404
            found = False
            raise
        finally:
            self._spans.add("kv.get", start, time.perf_counter(), span_id=span_id,
                            key=key, found=found)


class TracedEngine:
    """Proxy of an Engine whose ``kv(...)`` stores are TracedKV."""

    def __init__(self, engine, spans: Spans, work: SparkWork):
        self._engine, self._spans, self._work = engine, spans, work
        self._kv: dict[str, TracedKV] = {}
        self._lock = threading.Lock()

    def __getattr__(self, name):
        return getattr(self._engine, name)

    def kv(self, name: str = "kv_default") -> TracedKV:
        with self._lock:
            if name not in self._kv:
                self._kv[name] = TracedKV(self._engine.kv(name), self._spans, self._work)
            return self._kv[name]

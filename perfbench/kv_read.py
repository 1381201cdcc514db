"""Workload ``kv_read``: closed-loop HTTP GETs against a preloaded store.

Set-up preloads N_KEYS values of 1 KiB with ``KVStore.put_df`` at the
engine's default bucket count. Then CLIENTS threads, each with its own
keep-alive connection, send ``GET /get/{key}`` through
``serving.serve``: each sends its next request only after the previous
reply. Keys are Zipf(0.99) over the preloaded keys; 5% are keys that were
never written and must come back 404.
"""

from __future__ import annotations

import http.client
import os
import threading
import time
from urllib.parse import quote

from perfbench import loadgen
from perfbench.loadgen import FAILED, ABSENT_OK, OK
from perfbench.tracing import Spans, SparkWork, TracedEngine, match_children

N_KEYS = 20_000
CLIENTS = 4
KV_NAME = "perfbench"


def preload(engine, seed: int) -> float:
    t0 = time.perf_counter()
    rows = []
    for i in range(N_KEYS):
        key = loadgen.present_key(seed, i)
        rows.append((key, loadgen.make_value(key, 0)))
    df = engine.spark.createDataFrame(rows, "key string, value binary")
    engine.kv(KV_NAME).put_df(df)
    return time.perf_counter() - t0


class _Client(threading.Thread):
    def __init__(self, cid: int, port: int, seed: int, stream, deadline: float, limit: int | None,
                 spans: Spans | None):
        super().__init__(name=f"client-{cid}", daemon=True)
        self.cid, self.port, self.seed, self.stream = cid, port, seed, stream
        self.deadline, self.limit, self.spans = deadline, limit, spans
        self.results: list[tuple[float, float, str]] = []  # (start, end, outcome)

    def _connect(self) -> http.client.HTTPConnection:
        return http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)

    def run(self) -> None:
        conn = self._connect()
        n = 0
        try:
            while time.perf_counter() < self.deadline and n != self.limit:
                key, absent = self.stream.next(self.seed)
                status = body = err = None
                t0 = time.perf_counter()
                try:
                    conn.request("GET", "/get/" + quote(key, safe=""))
                    resp = conn.getresponse()
                    status, body = resp.status, resp.read()
                except (OSError, http.client.HTTPException) as e:
                    err = e
                    conn.close()  # counted as failed below; never retried
                    conn = self._connect()
                t1 = time.perf_counter()
                outcome = loadgen.classify_get(key, absent, status, body, 0, err)
                self.results.append((t0, t1, outcome))
                if self.spans is not None:
                    self.spans.add("client.get", t0, t1, rid=f"c{self.cid}-{n}", key=key,
                                   outcome=outcome)
                n += 1
        finally:
            conn.close()


def _run_clients(port, seed, sampler, first_stream, deadline, limit=None, spans=None):
    clients = [
        _Client(c, port, seed, sampler.stream(first_stream + c), deadline, limit, spans)
        for c in range(CLIENTS)
    ]
    for c in clients:
        c.start()
    for c in clients:
        c.join(timeout=175)
        if c.is_alive():
            raise RuntimeError(f"{c.name} did not finish")
    return clients


def _store_files(engine) -> tuple[int, int]:
    """(data files, bytes) of the store's table under the warehouse."""
    base = os.path.join(engine.cfg.warehouse_dir, f"fairy_kv_{KV_NAME}")
    files = size = 0
    for dirpath, _, names in os.walk(base):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run(engine, seed: int, seconds: float, trace: bool, window) -> dict:
    from fairy_spark.serving import serve

    t_setup = time.perf_counter()
    preload_s = preload(engine, seed)
    spans = Spans() if trace else None
    work = SparkWork(engine.spark.sparkContext) if trace else None
    served = TracedEngine(engine, spans, work) if trace else engine
    sampler = loadgen.ZipfSampler(N_KEYS, seed)
    out: dict = {}

    with serve(served, kv_name=KV_NAME) as (_, port):
        # Warm-up: one untimed request, still checked.
        warm = _Client(CLIENTS, port, seed, sampler.stream(CLIENTS), float("inf"), 1, None)
        warm.run()
        out["prep_s"] = time.perf_counter() - t_setup
        t_start = window.start()
        clients = _run_clients(port, seed, sampler, 0, t_start + seconds, spans=spans)
        t_end = window.stop()

    results = [r for c in clients for r in c.results]
    checked = results + warm.results
    lat = [(t1 - t0) * 1000 for t0, t1, o in results if o in (OK, ABSENT_OK)]
    out.update(
        attempted=len(checked),
        failed=sum(o in FAILED for *_, o in checked),
        wall_s=t_end - t_start,
        # Each client's completions over its own busy time, summed: the
        # last request's tail after the deadline adds no rounding.
        ops_per_s=sum(
            sum(o in (OK, ABSENT_OK) for *_, o in c.results) / (c.results[-1][1] - t_start)
            for c in clients if c.results
        ),
        latency_p50_ms=loadgen.percentile(lat, 50),
    )
    if trace:
        out["layers"] = _layers(engine, spans, work, t_start, t_end, preload_s)
        out["spans"] = spans
    return out


def _layers(engine, spans: Spans, work: SparkWork, t_start: float, t_end: float,
            preload_s: float) -> dict:
    wall_s = t_end - t_start
    client = spans.named("client.get")
    gets = [g for g in spans.named("kv.get") if g["start"] >= t_start]  # not the warm-up
    match_children(client, gets)
    by_id = {s["id"]: s for s in client}
    overhead, wait = [], []
    for g in gets:
        c = by_id.get(g["parent"])
        if c is not None:
            overhead.append(loadgen.self_time((c["start"], c["end"]), [(g["start"], g["end"])]) * 1000)
            wait.append((g["start"] - c["start"]) * 1000)
    calls = len(gets) or 1
    spark = {"jobs": 0.0, "tasks": 0.0, "task_ms": 0.0, "input_records": 0.0}
    for g in gets:
        w = work.collect(g["id"])
        for k in spark:
            spark[k] += w[k]
    files, size = _store_files(engine)
    return {
        "serving.get.overhead_ms_p50": loadgen.percentile(overhead, 50),
        "serving.wait_ms_p50": loadgen.percentile(wait, 50),
        "kv.get.ms_p50": loadgen.percentile([(g["end"] - g["start"]) * 1000 for g in gets], 50),
        "kv.get.inflight_mean": sum(g["end"] - g["start"] for g in gets) / wall_s,
        "kv.get.jobs_per_call": spark["jobs"] / calls,
        "kv.get.tasks_per_call": spark["tasks"] / calls,
        "kv.get.task_ms_per_call": spark["task_ms"] / calls,
        "kv.get.rows_examined_per_call": spark["input_records"] / calls,
        "kv.get.hit_ratio": sum(g["found"] for g in gets) / calls,
        "kv.preload_s": preload_s,
        "kv.log_files": float(files),
        "kv.bytes_on_disk": float(size),
    }

#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload kv_read --seed 1 --seconds 15 --trace 0

Boots the engine with its own defaults (all writes go under
``.perfbench_work/`` in the checkout), prepares the seeded inputs, measures
for ``--seconds`` and checks every result. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
-- the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it records host
noise over the timed window. Traced runs also write their spans to
``.perfbench_out/``. See perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import shutil
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

WORKLOADS = ("kv_read", "corpus_curate")
# A run must end within 180 s; past this the process dumps its stacks
# and exits without a result (the JVM exits when its stdin closes).
WATCHDOG_S = 170


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, seed: int, seconds: int, trace: bool, work: Path) -> tuple[dict, dict]:
    from perfbench import host

    host.prepare_env(work)
    engine, boot_s = host.boot_engine()
    try:
        window = host.Window(engine)
        if workload == "kv_read":
            from perfbench import kv_read

            res = kv_read.run(engine, seed, seconds, trace, window)
        else:
            from perfbench import corpus_curate

            res = corpus_curate.run(engine, seed, seconds, trace, window, work / "shards")
        res["boot_s"] = boot_s
        res["rss_peak_mb"] = host.rss_peak_mb(engine)
    finally:
        host.stop_engine(engine)
    return res, window.readings


def _metrics(spec: dict, res: dict, readings: dict, trace: bool) -> dict:
    if trace:
        values = {
            "session.boot_s": res["boot_s"],
            "session.jvm_gc_ms": readings["jvm_gc_ms"],
            "session.rss_peak_mb": res["rss_peak_mb"],
            "trace.ops_per_s": res["ops_per_s"],
            **res["layers"],
        }
        # A layer a workload leaves idle reads 0.
        return {m["name"]: {"value": float(values.get(m["name"]) or 0.0), "unit": m["unit"]}
                for m in spec["per_layer"]}
    values = {
        "ops_per_s": res["ops_per_s"],
        "latency_p50_ms": res["latency_p50_ms"],
        "setup_s": res["boot_s"] + res["prep_s"],
    }
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "fairy_spark" / "engine.py").is_file():
        print(f"perfbench: no engine source (fairy_spark/) under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()
    faulthandler.dump_traceback_later(WATCHDOG_S, exit=True)

    from perfbench import host

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    try:
        res, readings = _run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.get("spans") is not None:
        res["spans"].dump(ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.jsonl")

    metrics = _metrics(spec, res, readings, bool(args.trace))
    faulthandler.cancel_dump_traceback_later()
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "window": readings, "wall_s": res["wall_s"]}))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Rebuild ``corpus_digests.json``: the DuckDB oracle's result digest for
every corpus shard the ``corpus_curate`` workload can use.

The oracle of the curation pipeline takes tens of seconds per shard, too
long to run inside a timed benchmark run, so its digests are computed here
once and committed. Rerun after changing the shard generator, the shard
size or the oracle SQL:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import corpus_curate as cc  # noqa: E402
from perfbench import host  # noqa: E402


def main() -> int:
    work = host.ROOT / ".perfbench_work" / "digests"
    host.prepare_env(work)
    import duckdb

    from fairy_spark.queries import ORACLE, QUERIES
    from fairy_spark.testing.oracle import compare_frames

    engine, _ = host.boot_engine()
    digests = {}
    try:
        for shard in [cc.WARM_SHARD] + list(range(cc.POOL)):
            t0 = time.perf_counter()
            d = cc.write_shard(engine.spark, work / "shards", shard)
            con = duckdb.connect()
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
            )
            oracle = con.execute(ORACLE[cc.QUERY]).fetchdf()
            con.close()
            h, rows = cc.digest(oracle)
            if shard == cc.WARM_SHARD:
                # Self-check of the digest rule on one shard: the engine's
                # output must match the oracle cell by cell and by digest.
                mine = QUERIES[cc.QUERY](engine.spark, d).toPandas()
                res = compare_frames(cc.QUERY, mine, oracle)
                if not res.ok or cc.digest(mine) != (h, rows):
                    raise SystemExit(f"digest self-check failed: {res}")
            digests[cc.shard_id(shard)] = {"digest": h, "rows": rows}
            print(f"{cc.shard_id(shard)} rows={rows} {time.perf_counter() - t0:.1f}s", flush=True)
    finally:
        host.stop_engine(engine)
        shutil.rmtree(work, ignore_errors=True)
    payload = {"query": cc.QUERY, "shard_docs": cc.SHARD_DOCS, "digests": digests}
    cc.DIGESTS.write_text(json.dumps(payload, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

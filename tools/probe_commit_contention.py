"""Multi-writer contention curve for the commit-log claim protocol
(round-10 verdict task 7, carried from r9): N concurrent writer
PROCESSES hammer one index's optimistic hard-link claim
(plans/index_commit.py:claim), recording per-claim link-attempt counts
and wall time, then the parent validates the resulting commit chain —
versions contiguous 1..N*M, parent == version-1 everywhere, every
manifest parseable. The probe stresses the PROTOCOL, not Spark: real
writers spend seconds building parquet segments between claims, so the
claim rates here are orders of magnitude above any realistic index's —
an upper bound on contention, not a typical load.

Usage: python tools/probe_commit_contention.py [claims_per_writer]
Prints one JSON line per writer count (2, 4, 8, 16):
  {"writers": N, "claims_per_writer": M, "seconds": ...,
   "attempts": {"1": k1, "2": k2, ...}, "max_attempts": ...,
   "mean_attempts": ..., "chain_valid": true}
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _writer(index_dir: str, m: int, q) -> None:
    from rag_content_spark.plans.index_commit import claim

    attempts: list[int] = []
    for i in range(m):
        claim(
            index_dir,
            {"kind": "add", "dir": f"data/w{os.getpid()}-{i}",
             "stats": {"rows": 0}},
            attempts_out=attempts,
        )
    q.put(attempts)


def run(n_writers: int, m: int) -> dict:
    from rag_content_spark.plans.index_commit import commits

    with tempfile.TemporaryDirectory(prefix="sgraft_commitrace_") as idx:
        q: mp.Queue = mp.Queue()
        procs = [
            mp.Process(target=_writer, args=(idx, m, q))
            for _ in range(n_writers)
        ]
        t0 = time.time()
        for p in procs:
            p.start()
        attempts: list[int] = []
        for _ in procs:
            attempts.extend(q.get())
        for p in procs:
            p.join()
        took = time.time() - t0
        snaps = commits(idx)
        versions = [s["version"] for s in snaps]
        chain_valid = (
            versions == list(range(1, n_writers * m + 1))
            and all(
                s["parent"] == (s["version"] - 1 if s["version"] > 1 else None)
                for s in snaps
            )
        )
    hist: dict[str, int] = {}
    for a in attempts:
        hist[str(a)] = hist.get(str(a), 0) + 1
    return {
        "writers": n_writers,
        "claims_per_writer": m,
        "seconds": round(took, 2),
        "attempts": dict(sorted(hist.items(), key=lambda kv: int(kv[0]))),
        "max_attempts": max(attempts),
        "mean_attempts": round(sum(attempts) / len(attempts), 2),
        "chain_valid": chain_valid,
    }


def main() -> int:
    m = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    for n in (2, 4, 8, 16):
        print(json.dumps(run(n, m)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

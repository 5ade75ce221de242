"""Strictly-interleaved quiet-box A/B bench of two repo versions — the
round-9 adjudication protocol, scripted (round-10 verdict task 3).

Two modes; check `uptime` before trusting either one's output.

bench.py mode: alternating invocations (A, B, A, B, ...), N reps per
side, each rep a FRESH process/JVM running `python bench.py <queries...>`
in its own tree.

  python tools/ab_bench.py TREE_A TREE_B N query [query ...]

Prints one JSON line per rep as it lands, then a per-query summary:
  {"query": ..., "a_median": ..., "b_median": ..., "a_min": ...,
   "b_min": ..., "a_all": [...], "b_all": [...]}

perfbench mode: N pairs of `perfbench/run.py --workload W --seconds 10
--trace 0` for two git revisions. Pair i runs both sides on seed
SEED0 + i and alternates which side runs first. Both revisions are
checked out in turn into ONE clone at PATH, because perfbench document
ids hash the checkout path: two paths would give the sides different
inputs.

  python tools/ab_bench.py perfbench REV_A REV_B N WORKLOAD PATH [SEED0]

REV_A/REV_B are revisions of the repository this tool lives in; PATH is
created if missing and must not be inside it. Prints one JSON line per
run, then per end-to-end metric of BENCHMARK.json:
  {"metric": ..., "better": ..., "a_median": ..., "a_q1": ..., "a_q3":
   ..., "b_median": ..., "b_q1": ..., "b_q3": ..., "b_wins": W,
   "pairs": N, "a_all": [...], "b_all": [...]}
where b_wins counts the pairs in which B is better than A.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_rep(tree: str, queries: list[str]) -> dict:
    r = subprocess.run(
        [sys.executable, "bench.py", *queries],
        cwd=tree, capture_output=True, text=True, timeout=3600,
        env=dict(os.environ),
    )
    # the JSON line can share a physical line with \r progress output —
    # find the last '{"metric' and parse to end-of-line from there
    out = r.stdout.replace("\r", "\n")
    i = out.rfind('{"metric')
    if i >= 0:
        try:
            return json.loads(out[i:].splitlines()[0])["queries"]
        except Exception:
            pass
    raise RuntimeError(
        f"no bench JSON from {tree}: rc={r.returncode}\n{r.stderr[-800:]}"
    )


def bench_main(argv: list[str]) -> int:
    tree_a, tree_b, n = argv[0], argv[1], int(argv[2])
    queries = argv[3:]
    sides: dict[str, dict[str, list[float]]] = {
        "A": {q: [] for q in queries}, "B": {q: [] for q in queries}
    }
    for rep in range(n):
        for side, tree in (("A", tree_a), ("B", tree_b)):
            t = run_rep(tree, queries)
            for q in queries:
                if q in t:
                    sides[side][q].append(t[q])
            print(json.dumps({"rep": rep, "side": side, "timings": t}),
                  flush=True)
    for q in queries:
        a, b = sides["A"][q], sides["B"][q]
        if not a or not b:
            continue
        print(json.dumps({
            "query": q,
            "a_median": round(statistics.median(a), 3),
            "b_median": round(statistics.median(b), 3),
            "a_min": round(min(a), 3), "b_min": round(min(b), 3),
            "a_all": a, "b_all": b,
        }), flush=True)
    return 0


def _git(*args: str, cwd: str = ROOT) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
    ).stdout.strip()


def checkout(sha: str, path: str) -> None:
    """Make ``path`` a clean checkout of ``sha`` (one clone, reused)."""
    if not os.path.isdir(os.path.join(path, ".git")):
        _git("clone", "-q", "--no-checkout", ROOT, path)
    _git("fetch", "-q", ROOT, "+refs/heads/*:refs/remotes/ab/*", "HEAD", cwd=path)
    _git("checkout", "-q", "--force", "--detach", sha, cwd=path)
    _git("clean", "-qfdx", cwd=path)


def run_perfbench(path: str, workload: str, seed: int) -> dict:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "0"],
        cwd=path, capture_output=True, text=True, timeout=3600,
    )
    try:
        return json.loads(r.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        raise RuntimeError(
            f"no perfbench JSON: rc={r.returncode}\n{r.stderr[-800:]}"
        ) from None


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def perfbench_main(argv: list[str]) -> int:
    rev_a, rev_b, n, workload, path = argv[:5]
    n, seed0 = int(n), int(argv[5]) if len(argv) > 5 else 1
    path = os.path.abspath(path)
    shas = {"A": _git("rev-parse", rev_a), "B": _git("rev-parse", rev_b)}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    got: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(n):
        seed = seed0 + i
        for side in ("AB" if i % 2 == 0 else "BA"):
            checkout(shas[side], path)
            res = run_perfbench(path, workload, seed)
            got[side].append({k: v["value"] for k, v in res["metrics"].items()})
            print(json.dumps({
                "pair": i, "seed": seed, "side": side, "rev": shas[side][:12],
                "failed": res.get("failed"), "attempted": res.get("attempted"),
                "metrics": res["metrics"],
            }), flush=True)
    for row in summarize(metrics, got):
        print(json.dumps(row), flush=True)
    return 0


def summarize(metrics: list[dict], got: dict[str, list[dict]]) -> list[dict]:
    """Per end-to-end metric: each side's median and quartiles, and the
    pairs B wins. ``got[side][i]`` maps metric name -> value in pair i."""
    rows = []
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        a = [r[name] for r in got["A"]]
        b = [r[name] for r in got["B"]]
        (a1, a3), (b1, b3) = _quartiles(a), _quartiles(b)
        rows.append({
            "metric": name, "better": m["better"],
            "a_median": statistics.median(a), "a_q1": a1, "a_q3": a3,
            "b_median": statistics.median(b), "b_q1": b1, "b_q3": b3,
            "b_wins": sum((y > x) if higher else (y < x) for x, y in zip(a, b)),
            "pairs": len(a), "a_all": a, "b_all": b,
        })
    return rows


def main() -> int:
    if sys.argv[1:2] == ["perfbench"]:
        return perfbench_main(sys.argv[2:])
    return bench_main(sys.argv[1:])


if __name__ == "__main__":
    raise SystemExit(main())

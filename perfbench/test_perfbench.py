"""Tests of the benchmark itself: seeded inputs are byte-identical, the
metric names it prints are the ones BENCHMARK.json declares, and every
workload runs green at a tiny scale.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import PER_LAYER_SPEC  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for fn in sorted(files):
            p = os.path.join(root, fn)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _render_all(seed: int, out: str) -> str:
    docs = gen.make_documents(seed, 1200)
    gen.write_corpus(seed, docs, os.path.join(out, "corpus"))
    gen.write_curate_batches(seed, docs, os.path.join(out, "curate"))
    with open(os.path.join(out, "picks.json"), "w") as f:
        json.dump(
            [gen.make_requests(3), gen.pick(seed, "phrases", list(range(500)), 20)], f
        )
    return _tree_digest(out)


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = _render_all(7, str(tmp_path / "a"))
    b = _render_all(7, str(tmp_path / "b"))
    c = _render_all(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_expected_chunks_match_rendering():
    doc = {"doc_id": 3, "text": " ".join(["the"] * 81), "lang": "en", "source": "src3"}
    md = gen.render_markdown(doc)
    assert md.count("\n## Section ") == 3
    assert gen.expected_chunks(doc) == 4  # frontmatter preamble + 3 sections


def test_curate_batches_plant_duplicates(tmp_path):
    import pyarrow.parquet as pq

    docs = gen.make_documents(1, 1000)
    (batch,) = gen.write_curate_batches(1, docs, str(tmp_path))
    rows = {r["doc_id"]: r["text"] for r in pq.read_table(batch["path"]).to_pylist()}
    assert len(rows) == batch["docs"] == 1100
    for src, copy, kind in batch["planted"]:
        same = rows[src] == rows[copy]
        assert same if kind == "exact" else not same


def test_tree_cpu_counts_child_processes():
    from common import tree_cpu_s

    before = tree_cpu_s()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s() - before >= 0.25


def test_benchmark_json_lists_the_per_layer_metrics():
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == [
        tuple(x) for x in PER_LAYER_SPEC
    ]
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in BENCH["end_to_end"])


def _run(workload: str, trace: int, cwd: str = ROOT, docs: int = 100):
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--docs", str(docs),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["rag_serve", "curate", "rag_build"])
def test_tiny_run_prints_declared_metrics(workload):
    proc = _run(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_tiny_traced_run_prints_per_layer_metrics():
    proc = _run("curate", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["curate.jobs"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("curate", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()

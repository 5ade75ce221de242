"""Optimistic-concurrency commit log for persisted indexes (text + ANN).

Round-7 verdict: ``add_to_text_index``/``add_to_ann_index`` did
read-modify-write on ``meta.json`` plus ``mode("append")`` parquet
writes — two concurrent adds lose one side's stats update (BM25
idf/avgdl silently wrong), an add can interleave with ``compact_*``'s
rename swap, and a crash between compact's two renames left no live
data dir. This module ports versioned_table's protocol
(sinks/versioned_table.py:120-177) to index maintenance:

- every writer lands data in a UNIQUE staging directory under ``data/``
  (concurrent writers can never collide; Spark appends to a shared dir
  would also collide on the ``_temporary`` committer dir),
- the commit is claimed by atomically hard-linking a fully-written
  manifest to ``commits/snap-NNNNN.json`` — ``link(2)`` fails with
  EEXIST when another writer won that version and the loser re-claims
  the next one,
- readers list the log and assemble the LIVE VIEW: the newest
  ``base``/``compact`` root plus every ``add``/``delete`` the root did
  not absorb (deletes are id-tombstone segments readers anti-join;
  compaction drops the masked rows physically); stats are exact
  integers (root absolutes + add/delete deltas), so BM25 idf/avgdl
  never lose an update,
- ``compact`` records ``base_version`` — the highest version it
  actually incorporated — so an add claimed while the compaction ran
  stays live (the Iceberg snapshot-isolation shape), and the swap is a
  single manifest claim: NO rename of live directories, hence no
  crash window at all (round-7 ADVICE on compact_text_index's two-rename
  recovery hole).

Legacy indexes (pre-log: bare ``postings/``+``meta.json``) read
transparently — the reader synthesizes a root from ``meta.json`` — and
upgrade on their first logged write via ``ensure_base``.
"""

from __future__ import annotations

import json
import os
import random
import re
import time
import uuid


def _snap_path(index_dir: str, version: int) -> str:
    return os.path.join(index_dir, "commits", f"snap-{version:05d}.json")


def _max_version(cdir: str) -> int:
    """Highest claimed version by FILENAME scan only — the claim retry
    path must not re-parse every manifest JSON (O(log-length) reads per
    retry was the starvation amplifier the contention probe caught: the
    loser got slower each round while winners kept claiming)."""
    mx = 0
    try:
        names = os.listdir(cdir)
    except FileNotFoundError:
        return 0
    for name in names:
        m = re.fullmatch(r"snap-(\d+)\.json", name)
        if m:
            v = int(m.group(1))
            if v > mx:
                mx = v
    return mx


def commits(index_dir: str) -> list[dict]:
    """All claimed commit manifests, ascending by version.

    Filenames match ``snap-\\d+.json`` (any digit count) and are ordered
    by the PARSED version number, not lexicographically — at version
    100000 the zero-padding overflows to 6 digits and a ``\\d{5}``-only
    regex (or a filename sort) would silently drop / mis-order commits.
    """
    cdir = os.path.join(index_dir, "commits")
    if not os.path.isdir(cdir):
        return []
    versioned = []
    for name in os.listdir(cdir):
        m = re.fullmatch(r"snap-(\d+)\.json", name)
        if m:
            versioned.append((int(m.group(1)), name))
    out = []
    for _v, name in sorted(versioned):
        with open(os.path.join(cdir, name)) as f:
            out.append(json.load(f))
    return out


def claim(index_dir: str, record: dict, attempts_out: list | None = None) -> int:
    """Claim the next version for ``record`` (hard-link commit); returns
    the claimed version. ``record`` must carry kind/dirs/stats; version,
    parent and (for non-compact kinds) base_version are filled in here.
    ``compact`` records must already carry ``base_version`` — the
    highest version whose data the compaction absorbed.

    ``attempts_out``: when a list is passed, the number of link attempts
    this claim needed (1 = won first try) is appended — observability
    for the multi-writer contention probe
    (tools/probe_commit_contention.py).

    Liveness under contention: the r11 probe caught the original loop
    (50 bare retries, full ``commits()`` manifest re-parse per retry)
    STARVING a writer to hard failure at just 4 concurrent
    claim-at-max-rate writers — each lost round made the loser slower
    (one more manifest to parse) while winners kept claiming. The retry
    path now (a) re-reads only the max version from filenames
    (:func:`_max_version`), (b) sleeps a jittered exponential backoff
    (full jitter, capped at 100 ms) after the second straight loss, and
    (c) allows 500 attempts — at realistic writer counts the probe
    measures single-digit attempt tails."""
    cdir = os.path.join(index_dir, "commits")
    os.makedirs(cdir, exist_ok=True)
    last = _max_version(cdir)
    for _attempt in range(500):
        version = last + 1
        manifest = dict(record)
        manifest["version"] = version
        manifest["parent"] = last if last else None
        if manifest["kind"] != "compact":
            manifest["base_version"] = version
        elif "base_version" not in manifest:
            raise ValueError("compact commit must record base_version")
        tmp = os.path.join(cdir, f".commit-{uuid.uuid4().hex[:12]}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        try:
            os.link(tmp, _snap_path(index_dir, version))
            os.remove(tmp)
            if attempts_out is not None:
                attempts_out.append(_attempt + 1)
            return version
        except FileExistsError:
            os.remove(tmp)
            if _attempt >= 1:
                time.sleep(random.uniform(0.0, min(0.1, 0.002 * (2 ** _attempt))))
            last = _max_version(cdir)
    raise RuntimeError(f"lost the commit race 500 times in {index_dir}")


def staging_dir(index_dir: str, prefix: str) -> str:
    """A unique relative data directory for one writer's output."""
    return f"data/{prefix}-{uuid.uuid4().hex[:12]}"


def live_view(
    index_dir: str, legacy_root: dict | None = None
) -> tuple[dict, list[dict]]:
    """(root, adds) — the newest base/compact commit and the
    add/delete commits it did not absorb (version > root.base_version,
    excluding the root itself). ``legacy_root`` is the synthesized
    pre-log root used when no commit log exists yet."""
    snaps = commits(index_dir)
    if not snaps:
        if legacy_root is None:
            raise ValueError(f"no commits and no legacy root in {index_dir}")
        return legacy_root, []
    root = next(
        s for s in reversed(snaps) if s["kind"] in ("base", "compact")
    )
    base_v = root.get("base_version", root["version"])
    adds = [
        s
        for s in snaps
        if s["kind"] in ("add", "delete")
        and s["version"] > base_v
        and s["version"] != root["version"]
    ]
    return root, adds


def view_stats(root: dict, adds: list[dict]) -> dict:
    """Exact-integer stats of the live view: root absolutes + add
    deltas."""
    out = dict(root["stats"])
    for a in adds:
        for k, v in a["stats"].items():
            out[k] = out.get(k, 0) + v
    return out


def view_dirs(root: dict, adds: list[dict], component: str) -> list[str]:
    """Relative data dirs of ``component`` (e.g. 'postings') across the
    live view, root first; commits without the component (e.g. delete
    tombstones when asked for postings) contribute nothing."""
    out = [root["dirs"][component]] if component in root["dirs"] else []
    out += [a["dirs"][component] for a in adds if component in a["dirs"]]
    return out


def ensure_base(index_dir: str, legacy_root: dict) -> None:
    """Upgrade a legacy (pre-log) index in place: claim the synthesized
    root as EXACTLY version 1. The upgrade must not go through the
    retrying :func:`claim` — a loser retrying to the next tip could
    land its base root ABOVE another writer's already-claimed add,
    which live_view would then mask (a lost add). Targeting version 1
    directly makes racing upgraders collapse to one winner and every
    loser a no-op."""
    if commits(index_dir):
        return
    cdir = os.path.join(index_dir, "commits")
    os.makedirs(cdir, exist_ok=True)
    manifest = dict(legacy_root)
    manifest.update(version=1, parent=None, base_version=1)
    tmp = os.path.join(cdir, f".commit-{uuid.uuid4().hex[:12]}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    try:
        os.link(tmp, _snap_path(index_dir, 1))
    except FileExistsError:
        pass  # another writer completed the upgrade
    finally:
        os.remove(tmp)


# segment dir key -> schema of its first read; see read_segment
_SEGMENT_SCHEMAS: dict[tuple, object] = {}
_SEGMENT_SCHEMAS_MAX = 4096


def read_segment(spark, path: str):
    """``spark.read.parquet(path)`` that infers the schema once per
    segment. Inference is a Spark job over the footers, and every read
    of a live view would pay it again for every segment. Segments are
    write-once (:func:`staging_dir` names each with a uuid), so the
    schema is reused under a key of the path plus the directory's
    device, inode and mtime: a directory removed and rebuilt at the same
    path (a legacy overwrite, a test fixture) is a new key."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)  # Spark's own missing-path error
    key = (path, st.st_dev, st.st_ino, st.st_mtime_ns)
    schema = _SEGMENT_SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_SEGMENT_SCHEMAS) >= _SEGMENT_SCHEMAS_MAX:
        _SEGMENT_SCHEMAS.clear()
    _SEGMENT_SCHEMAS[key] = df.schema
    return df


def read_union(spark, index_dir: str, rel_dirs: list[str]):
    """Union the parquet dirs of a live view with per-root reads —
    ``spark.read.parquet(a, b)`` rejects multiple partitioned roots
    (CONFLICTING_DIRECTORY_STRUCTURES), while per-root reads +
    unionByName keep partition pruning in EVERY scan (pinned in
    tests). Each segment's schema is inferred once (:func:`read_segment`)."""
    dfs = [read_segment(spark, os.path.join(index_dir, d)) for d in rel_dirs]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def vacuum_index(index_dir: str) -> int:
    """Remove data dirs referenced ONLY by superseded commits (commits
    no longer in the live view), plus those commit manifests. Unclaimed
    staging dirs (a crashed writer's debris) are left alone — an
    in-flight writer's staging dir is indistinguishable from debris, so
    sweeping those is a manual operation. Returns dirs removed."""
    import shutil

    snaps = commits(index_dir)
    if not snaps:
        return 0
    root, adds = live_view(index_dir)
    live_versions = {root["version"]} | {a["version"] for a in adds}
    live_dirs = set()
    for s in [root] + adds:
        live_dirs.update(s["dirs"].values())
    removed = 0
    for s in snaps:
        if s["version"] in live_versions:
            continue
        for d in s["dirs"].values():
            if d in live_dirs or not d.startswith("data/"):
                continue  # never touch legacy top-level dirs
            full = os.path.join(index_dir, d)
            if os.path.isdir(full):
                shutil.rmtree(full)
                removed += 1
        os.remove(_snap_path(index_dir, s["version"]))
    return removed

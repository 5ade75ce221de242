"""Optimistic-concurrency commit log for persisted indexes (text + ANN),
and the one owner of their LIVE VIEW.

Round-7 verdict: ``add_to_text_index``/``add_to_ann_index`` did
read-modify-write on ``meta.json`` plus ``mode("append")`` parquet
writes — two concurrent adds lose one side's stats update (BM25
idf/avgdl silently wrong), an add can interleave with ``compact_*``'s
rename swap, and a crash between compact's two renames left no live
data dir. This module ports versioned_table's protocol
(sinks/versioned_table.py) to index maintenance:

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

The index modules (plans/text_index.py, plans/ann_index.py) state only
their layout — which components they write, how each is partitioned and
sorted, and which SQL aggregates give their stats (:class:`Component`).
Everything that follows from the live view is written once, here: the
tombstone anti-join (:func:`read_live`), the delete commit
(:func:`delete_ids`), the compact commit (:func:`compact`) and the
reclaim of superseded segments (:func:`vacuum_index`). An index is its
``meta.json`` plus this log; a directory without the log is rejected
(:func:`read_meta`).
"""

from __future__ import annotations

import json
import os
import random
import re
import time
import uuid
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F


def _snap_path(index_dir: str, version: int) -> str:
    return os.path.join(index_dir, "commits", f"snap-{version:05d}.json")


def manifest_versions(log_dir: str) -> list[tuple[int, str]]:
    """``(version, file name)`` of every ``snap-N.json`` manifest in
    ``log_dir``, ascending by the PARSED version — the one version
    parser of both commit logs (this one and sinks/versioned_table.py).

    Names match ``snap-\\d+.json`` (any digit count): past version 99999
    the ``{:05d}`` padding grows to 6 digits, and a ``\\d{5}``-only regex
    or a file-name sort would silently drop or mis-order those
    manifests. A filename scan only; no manifest is opened."""
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return []
    out = []
    for name in names:
        m = re.fullmatch(r"snap-(\d+)\.json", name)
        if m:
            out.append((int(m.group(1)), name))
    return sorted(out)


def read_manifests(log_dir: str) -> list[dict]:
    """Every manifest in ``log_dir``, parsed, ascending by version."""
    out = []
    for _v, name in manifest_versions(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            out.append(json.load(f))
    return out


def _max_version(cdir: str) -> int:
    """Highest claimed version by FILENAME scan only — the claim retry
    path must not re-parse every manifest JSON (O(log-length) reads per
    retry was the starvation amplifier the contention probe caught: the
    loser got slower each round while winners kept claiming)."""
    versions = manifest_versions(cdir)
    return versions[-1][0] if versions else 0


def commits(index_dir: str) -> list[dict]:
    """All claimed commit manifests, ascending by version."""
    return read_manifests(os.path.join(index_dir, "commits"))


def _no_log(index_dir: str) -> ValueError:
    return ValueError(
        f"{index_dir} has no commit log (commits/snap-*.json): not an "
        f"index, or one written before the log existed; rebuild it"
    )


def read_meta(index_dir: str) -> dict:
    """The index's static config (``meta.json``). Raises ``ValueError``
    naming ``index_dir`` when it has no commit log, before any data is
    read or written."""
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    if not _max_version(os.path.join(index_dir, "commits")):
        raise _no_log(index_dir)
    return meta


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


def nonempty(index_dir: str, dirs: dict) -> dict:
    """The staged ``{component: dir}`` entries that hold a parquet file.
    A partitioned write of no rows leaves none, and a read of such a
    segment fails to infer its schema."""
    return {k: d for k, d in dirs.items() if parquet_files(index_dir, [d])}


def discard(index_dir: str, dirs: dict) -> None:
    """Remove staged ``{component: dir}`` segments that no commit will
    claim (an add of no rows)."""
    import shutil

    for d in dirs.values():
        shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)


def live_view(index_dir: str) -> tuple[dict, list[dict]]:
    """(root, adds) — the newest base/compact commit and the
    add/delete commits it did not absorb (version > root.base_version,
    excluding the root itself). Raises ``ValueError`` when the index
    has no commit log."""
    snaps = commits(index_dir)
    if not snaps:
        raise _no_log(index_dir)
    root = next(
        s for s in reversed(snaps) if s["kind"] in ("base", "compact")
    )
    adds = [
        s
        for s in snaps
        if s["kind"] in ("add", "delete")
        and s["version"] > root["base_version"]
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


# segment dir key -> schema of its first read; see read_segment
_SEGMENT_SCHEMAS: dict[tuple, object] = {}
_SEGMENT_SCHEMAS_MAX = 4096


def _segment_key(path: str) -> tuple:
    st = os.stat(path)
    return (path, st.st_dev, st.st_ino, st.st_mtime_ns)


def _remember(key: tuple, schema) -> None:
    if len(_SEGMENT_SCHEMAS) >= _SEGMENT_SCHEMAS_MAX:
        _SEGMENT_SCHEMAS.clear()
    _SEGMENT_SCHEMAS[key] = schema


def read_segment(spark, path: str):
    """``spark.read.parquet(path)`` that infers the schema once per
    segment. Inference is a Spark job over the footers, and every read
    of a live view would pay it again for every segment. Segments are
    write-once (:func:`staging_dir` names each with a uuid), so the
    schema is reused under a key of the path plus the directory's
    device, inode and mtime: a directory removed and rebuilt at the same
    path (a rebuilt index, a test fixture) is a new key. A writer that
    calls :func:`remember_schema` spares the first read its inference."""
    try:
        key = _segment_key(path)
    except OSError:
        return spark.read.parquet(path)  # Spark's own missing-path error
    schema = _SEGMENT_SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _remember(key, df.schema)
    return df


def remember_schema(
    index_dir: str, rel_dir: str, df: DataFrame, partition_col: str | None = None
) -> None:
    """Record for :func:`read_segment` the schema of the segment ``df``
    was just written to at ``rel_dir``, as a read infers it: every field
    nullable, the partition column last. The segment's first read then
    runs no inference job. A segment with no parquet file is left to
    inference, which fails on it here as in any other process."""
    from pyspark.sql.types import StructField, StructType

    if not parquet_files(index_dir, [rel_dir]):
        return
    fields = [f for f in df.schema.fields if f.name != partition_col]
    if partition_col:
        fields.append(df.schema[partition_col])
    _remember(
        _segment_key(os.path.join(index_dir, rel_dir)),
        StructType([StructField(f.name, f.dataType, True) for f in fields]),
    )


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


def read_live(
    spark,
    index_dir: str,
    component: str,
    id_col: str,
    view: tuple[dict, list[dict]] | None = None,
) -> DataFrame:
    """The live rows of ``component`` (e.g. 'postings', 'lengths',
    'index'): the union of its live segments, anti-joined with the
    distinct ids of the live delete tombstones when any are live.
    ``view`` is a ``(root, adds)`` already listed by the caller, so a
    read that needs several components parses the log once."""
    root, adds = view or live_view(index_dir)
    df = read_union(spark, index_dir, view_dirs(root, adds, component))
    deletes = view_dirs(root, adds, "deletes")
    if not deletes:
        return df
    dels = read_union(spark, index_dir, deletes).select(id_col).distinct()
    return df.join(dels, id_col, "left_anti")


def segment_stats(spark, index_dir: str, rel_dir: str, aggs: dict) -> dict:
    """Exact integer aggregates over one STAGED segment: ``aggs`` maps
    each stat name to a SQL aggregate (``{"n_docs": "count(1)"}``); a
    NULL sum (no rows) counts as 0. The read goes through
    :func:`read_segment`."""
    row = (
        read_segment(spark, os.path.join(index_dir, rel_dir))
        .agg(*[F.expr(e).alias(k) for k, e in aggs.items()])
        .collect()[0]
    )
    return {k: int(row[k] or 0) for k in aggs}


class Component(NamedTuple):
    """One parquet component of an index layout. Compaction rewrites it
    through :func:`cluster` when it has a ``partition_col``, or, with
    none, as one unpartitioned file. ``stats`` maps the manifest stats
    this component carries to the SQL aggregates that recount them over
    its rows (:func:`segment_stats`). A component's segments stage under
    ``data/<first letter>-<uuid>``."""

    name: str
    partition_col: str | None = None
    sort_cols: tuple[str, ...] = ()
    stats: dict | None = None


def cluster(df: DataFrame, c: Component):
    """The writer of ``df`` as a segment of the partitioned component
    ``c``: hash-partitioned on ``c.partition_col`` with no fixed count,
    sorted within partitions by ``c.sort_cols``, and written partitioned
    by that column. AQE sizes the reducers from the shuffle it observes:
    a few rows take one reducer, a corpus up to
    ``spark.sql.shuffle.partitions``. All rows of one partition value
    meet in one task, so the segment holds one file per non-empty
    value."""
    return (
        df.repartition(c.partition_col)
        .sortWithinPartitions(*c.sort_cols)
        .write.partitionBy(c.partition_col)
    )


def delete_ids(
    spark, index_dir: str, ids, id_col: str, layout: list[Component]
) -> dict:
    """Delete rows by id: ``ids`` (a list or a one-column DataFrame)
    lands as a TOMBSTONE segment and one ``delete`` commit claims it,
    with the exact negative stats of the live rows it masks (so an
    absent or already-deleted id is a no-op in the stats). Readers
    anti-join live tombstones (:func:`read_live`); :func:`compact`
    drops the masked rows physically; :func:`vacuum_index` reclaims
    the tombstones. Id re-use after a delete is outside the contract.

    Concurrency note: the negative delta is computed against the live
    view BEFORE the claim, so two concurrent deletes of overlapping ids
    (or a delete racing an add of those ids) can write-skew the
    accumulated stats — row-level results stay exact (the anti-join is
    idempotent), only the stats drift. The drift SELF-HEALS at the next
    :func:`compact`, which recounts the materialized survivors.
    Returns the live stats after the delete."""
    if not isinstance(ids, DataFrame):
        ids = list(ids)
        if not ids:
            raise ValueError(f"no ids to delete from {index_dir}")
        # a local relation built through Arrow: no Python-worker RDD for
        # the optimizer to scan once per live segment
        ids = spark.createDataFrame(pa.table({id_col: pa.array(ids)}))
    ids = ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()
    comp = next(c for c in layout if c.stats)
    row = (
        read_live(spark, index_dir, comp.name, id_col)
        .join(ids, id_col, "leftsemi")
        .agg(*[F.expr(e).alias(k) for k, e in comp.stats.items()])
        .collect()[0]
    )
    d_dir = staging_dir(index_dir, "d")
    ids.write.mode("errorifexists").parquet(os.path.join(index_dir, d_dir))
    remember_schema(index_dir, d_dir, ids)
    claim(
        index_dir,
        {
            "kind": "delete",
            "dirs": {"deletes": d_dir},
            "stats": {k: -int(row[k] or 0) for k in comp.stats},
        },
    )
    return view_stats(*live_view(index_dir))


def parquet_files(index_dir: str, rel_dirs: list[str]) -> int:
    n = 0
    for rel in rel_dirs:
        for _root, _dirs, files in os.walk(os.path.join(index_dir, rel)):
            n += sum(1 for fn in files if fn.endswith(".parquet"))
    return n


def compact(spark, index_dir: str, id_col: str, layout: list[Component]) -> dict:
    """Rewrite the live view, net of its tombstones, into ONE segment
    per component (the OPTIMIZE/small-files step every append-only lake
    table needs — read latency grows with file count, not bytes), and
    claim it as one ``compact`` commit recording ``base_version``, the
    highest version absorbed. An add or delete claimed while the
    compaction ran stays live on top of it; a crash at ANY point leaves
    the old view untouched (there are no renames); the superseded
    segments wait for :func:`vacuum_index`.

    ``n_rows`` and the stats are COUNTED from the staged bytes, not
    carried over from the accumulated deltas: concurrent overlapping
    deletes can write-skew those (see :func:`delete_ids`), so every
    compaction is a self-healing point for that drift. Returns
    ``{n_files_before, n_files_after, n_rows}`` of the first component
    over the live view."""
    root, adds = live_view(index_dir)
    base_version = max([root["version"]] + [a["version"] for a in adds])
    main = layout[0].name
    before = parquet_files(index_dir, view_dirs(root, adds, main))
    dirs = {}
    for c in layout:
        df = read_live(spark, index_dir, c.name, id_col, (root, adds))
        writer = cluster(df, c) if c.partition_col else df.coalesce(1).write
        dirs[c.name] = staging_dir(index_dir, c.name[0])
        writer.mode("errorifexists").parquet(os.path.join(index_dir, dirs[c.name]))
        remember_schema(index_dir, dirs[c.name], df, c.partition_col)
    # one aggregation per staged component: the first one's row count
    # rides along with its own stats
    counted = {}
    for i, c in enumerate(layout):
        aggs = ({"n_rows": "count(1)"} if i == 0 else {}) | (c.stats or {})
        counted |= segment_stats(spark, index_dir, dirs[c.name], aggs)
    n_rows = counted.pop("n_rows")
    claim(
        index_dir,
        {
            "kind": "compact",
            "base_version": base_version,
            "dirs": dirs,
            "stats": counted,
        },
    )
    new_root, new_adds = live_view(index_dir)
    return {
        "n_files_before": before,
        "n_files_after": parquet_files(
            index_dir, view_dirs(new_root, new_adds, main)
        ),
        "n_rows": n_rows,
    }


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
                continue  # only dirs this log staged
            full = os.path.join(index_dir, d)
            if os.path.isdir(full):
                shutil.rmtree(full)
                removed += 1
        os.remove(_snap_path(index_dir, s["version"]))
    return removed

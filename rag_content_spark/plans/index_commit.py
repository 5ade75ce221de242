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

Each commit claims ONE segment and records its ``dir`` and the
``schema`` its rows were written with, so every read of a segment, in
any process, runs no schema inference, and a segment of no rows (a
compaction of an index whose rows were all deleted) reads as empty.
A serve read or a delete names the partition directories it needs
(``bucket=NN``, ``cell=NN``), checked with ``os.path.isdir`` (the log
is local-FS only: claims are ``os.link``), instead of handing Spark
the segment root: Spark lists a path of more than 32 subdirectories
with a distributed job, once per segment per read, and a text segment
at the default 32 buckets holds 33. Compaction reads whole segments.

The index modules (plans/text_index.py, plans/ann_index.py) state only
their layout: ONE :class:`Component` per index — how its segments are
partitioned and sorted, and which SQL aggregates give its stats.
Everything that follows from the live view is written once, here: the
segment write (:func:`write_segment`), the tombstone anti-join
(:func:`read_live`), the delete commit (:func:`delete_ids`), the compact
commit (:func:`compact`) and the reclaim of superseded segments
(:func:`vacuum_index`). An index is its ``meta.json`` plus this log; a
directory without the log, or whose ``meta.json`` names another format
than the one its module writes, is rejected (:func:`read_meta`).
"""

from __future__ import annotations

import functools
import json
import os
import random
import re
import time
import uuid
from collections.abc import Sequence
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


def read_meta(index_dir: str, fmt: str) -> dict:
    """The index's static config (``meta.json``). Raises ``ValueError``
    naming ``index_dir`` when it has no commit log or its format is not
    ``fmt``, before any data is read or written. An index of an older
    format is rebuilt, not read: no reader keeps a second layout."""
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    if not _max_version(os.path.join(index_dir, "commits")):
        raise _no_log(index_dir)
    if meta.get("format") != fmt:
        raise ValueError(
            f"{index_dir} holds a {meta.get('format')!r} index; this version "
            f"reads only {fmt!r}: rebuild it"
        )
    return meta


def claim(index_dir: str, record: dict, attempts_out: list | None = None) -> int:
    """Claim the next version for ``record`` (hard-link commit); returns
    the claimed version. ``record`` must carry kind/dir/schema/stats; version,
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


def discard(index_dir: str, segment: dict) -> None:
    """Remove a staged segment that no commit will claim (an add of no
    rows)."""
    import shutil

    shutil.rmtree(os.path.join(index_dir, segment["dir"]), ignore_errors=True)


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


def view_segments(root: dict, adds: list[dict]) -> tuple[list[dict], list[dict]]:
    """(rows, tombstones): the live view's commits whose segment holds
    index rows, root first, and those whose segment holds deleted
    ids."""
    live = [root] + adds
    return (
        [s for s in live if s["kind"] != "delete"],
        [s for s in live if s["kind"] == "delete"],
    )


def _schema(df: DataFrame, partition_col: str | None = None) -> dict:
    """``df``'s schema as a read of the segment it is written to infers
    it — every field and array element nullable, the partition column
    last — in the ``StructType.jsonValue()`` form a commit records."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    def nullable(t):
        if isinstance(t, StructType):
            return StructType(
                [StructField(f.name, nullable(f.dataType), True) for f in t.fields]
            )
        if isinstance(t, ArrayType):
            return ArrayType(nullable(t.elementType), True)
        return t

    fields = [f for f in df.schema.fields if f.name != partition_col]
    if partition_col:
        fields.append(df.schema[partition_col])
    return nullable(StructType(fields)).jsonValue()


def read_union(
    spark,
    index_dir: str,
    segments: list[dict],
    partitions: tuple[str, Sequence] | None = None,
) -> DataFrame:
    """Union the segments of commit records ``segments`` with per-root
    reads — ``spark.read.parquet(a, b)`` rejects multiple partitioned
    roots (CONFLICTING_DIRECTORY_STRUCTURES), while per-root reads +
    unionByName keep partition pruning in EVERY scan (pinned in tests).
    Each segment is read with the schema its commit records, so no read
    infers one (a Spark job over the footers), and a segment of no rows,
    which holds no parquet file, reads as empty.

    ``partitions``, a ``(column, values)`` pair, names the partition
    directories the read needs: each segment is read from those of its
    ``column=value`` directories that exist, with ``basePath`` at the
    segment so the column stays a partition column, and a segment that
    holds none of them is not read. Spark lists the subdirectories of a
    path with a distributed job when there are more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) of
    them, and a segment root at the default 32 text buckets holds 33;
    a few named directories are listed on the driver. When no segment
    holds any, the read is an empty relation of the recorded schema,
    which runs no job."""
    from pyspark.sql.types import StructType

    dfs = []
    for s in segments:
        root = os.path.join(index_dir, s["dir"])
        reader = spark.read.schema(StructType.fromJson(s["schema"]))
        if partitions is None:
            dfs.append(reader.parquet(root))
            continue
        col, values = partitions
        paths = [os.path.join(root, f"{col}={v}") for v in values]
        paths = [p for p in paths if os.path.isdir(p)]
        if paths:
            dfs.append(reader.option("basePath", root).parquet(*paths))
    if not dfs:
        from pyspark.sql.pandas.types import to_arrow_schema

        # an empty local relation: the plan over it folds to no job
        schema = StructType.fromJson(segments[0]["schema"])
        return spark.createDataFrame(to_arrow_schema(schema).empty_table())
    return functools.reduce(DataFrame.unionByName, dfs)


def read_live(
    spark,
    index_dir: str,
    id_col: str,
    view: tuple[dict, list[dict]] | None = None,
    partitions: tuple[str, Sequence] | None = None,
) -> DataFrame:
    """The live rows of the index: the union of its live segments,
    anti-joined with the distinct ids of the live delete tombstones
    when any are live. ``view`` is a ``(root, adds)`` already listed by
    the caller, so a read that also needs the stats parses the log
    once; ``partitions`` names the partition directories of the rows
    to read (:func:`read_union`), None for every row."""
    rows, tombstones = view_segments(*(view or live_view(index_dir)))
    df = read_union(spark, index_dir, rows, partitions)
    if not tombstones:
        return df
    dels = read_union(spark, index_dir, tombstones).select(id_col).distinct()
    return df.join(dels, id_col, "left_anti")


class Component(NamedTuple):
    """The one parquet component of an index layout; every segment of
    rows (build, add, compaction) is written by :func:`write_segment`.
    ``stats`` maps the manifest stats to the SQL aggregates that count
    them, exactly, over a segment's rows. ``stats_rows`` holds the
    values of ``partition_col`` whose directories hold the rows those
    aggregates read (the text index's length rows), or None for every
    row: a delete reads only those directories for its negative
    stats."""

    partition_col: str
    sort_cols: tuple[str, ...]
    stats: dict
    stats_rows: Sequence | None = None


def write_segment(
    index_dir: str, df: DataFrame, c: Component, shuffle: bool = True
) -> tuple[dict, dict]:
    """Stage ``df`` as one segment of component ``c`` and count it on
    the same write. Returns ``(segment, counts)``: ``segment`` is the
    ``{dir, schema}`` a commit records, and ``counts`` holds ``n_rows``
    and ``c.stats``, observed during the write (no job of their own).

    The rows are hash-partitioned on ``c.partition_col`` with no fixed
    count, sorted within partitions by ``c.sort_cols`` and written
    partitioned by that column. AQE sizes the reducers from the shuffle
    it observes: a few rows take one reducer, a corpus up to
    ``spark.sql.shuffle.partitions``, and the segment holds one file per
    non-empty value. ``shuffle=False`` skips the shuffle and the sort:
    each task writes its own rows, one file per value it holds (an ANN
    segment, whose one Python pass is its only stage)."""
    from rag_content_spark.observe import observe

    aggs = {"n_rows": "count(1)"} | c.stats
    df, counted = observe(df, *[F.expr(e).alias(k) for k, e in aggs.items()])
    if shuffle:
        df = df.repartition(c.partition_col).sortWithinPartitions(*c.sort_cols)
    segment = {
        "dir": staging_dir(index_dir, "s"),
        "schema": _schema(df, c.partition_col),
    }
    df.write.partitionBy(c.partition_col).mode("errorifexists").parquet(
        os.path.join(index_dir, segment["dir"])
    )
    return segment, {k: int(v or 0) for k, v in counted().items()}


def delete_ids(spark, index_dir: str, ids, id_col: str, c: Component) -> dict:
    """Delete rows by id: ``ids`` (a list or a one-column DataFrame)
    lands as a TOMBSTONE segment and one ``delete`` commit claims it,
    with the exact negative stats of the live rows it masks (so an
    absent or already-deleted id is a no-op in the stats); only the
    partitions ``c.stats_rows`` names are read for them. Readers anti-join
    live tombstones (:func:`read_live`); :func:`compact` drops the
    masked rows physically; :func:`vacuum_index` reclaims the
    tombstones. Id re-use after a delete is outside the contract.

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
    parts = None if c.stats_rows is None else (c.partition_col, c.stats_rows)
    live = read_live(spark, index_dir, id_col, partitions=parts)
    row = (
        live.join(ids, id_col, "leftsemi")
        .agg(*[F.expr(e).alias(k) for k, e in c.stats.items()])
        .collect()[0]
    )
    segment = {"dir": staging_dir(index_dir, "d"), "schema": _schema(ids)}
    ids.write.mode("errorifexists").parquet(os.path.join(index_dir, segment["dir"]))
    claim(
        index_dir,
        {
            "kind": "delete",
            **segment,
            "stats": {k: -int(row[k] or 0) for k in c.stats},
        },
    )
    return view_stats(*live_view(index_dir))


def parquet_files(index_dir: str, segments: list[dict]) -> int:
    n = 0
    for s in segments:
        for _root, _dirs, files in os.walk(os.path.join(index_dir, s["dir"])):
            n += sum(1 for fn in files if fn.endswith(".parquet"))
    return n


def compact(spark, index_dir: str, id_col: str, c: Component) -> dict:
    """Rewrite the live view, net of its tombstones, into ONE segment
    (the OPTIMIZE/small-files step every append-only lake table needs —
    read latency grows with file count, not bytes), and claim it as one
    ``compact`` commit recording ``base_version``, the highest version
    absorbed. An add or delete claimed while the compaction ran stays
    live on top of it; a crash at ANY point leaves the old view
    untouched (there are no renames); the superseded segments wait for
    :func:`vacuum_index`. An index with no live row compacts into a
    segment of none, which its recorded schema keeps readable.

    ``n_rows`` and the stats are COUNTED on the compaction's own write
    (:func:`write_segment`), not carried over from the accumulated
    deltas: concurrent overlapping deletes can write-skew those (see
    :func:`delete_ids`), so every compaction is a self-healing point
    for that drift. Returns ``{n_files_before, n_files_after, n_rows}``
    over the live view's segments of rows."""
    root, adds = live_view(index_dir)
    base_version = max([root["version"]] + [a["version"] for a in adds])
    before = parquet_files(index_dir, view_segments(root, adds)[0])
    segment, counted = write_segment(
        index_dir, read_live(spark, index_dir, id_col, (root, adds)), c
    )
    n_rows = counted.pop("n_rows")
    claim(
        index_dir,
        {
            "kind": "compact",
            "base_version": base_version,
            **segment,
            "stats": counted,
        },
    )
    return {
        "n_files_before": before,
        "n_files_after": parquet_files(
            index_dir, view_segments(*live_view(index_dir))[0]
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
    live = [root] + adds
    live_versions = {s["version"] for s in live}
    live_dirs = {s["dir"] for s in live}
    removed = 0
    for s in snaps:
        if s["version"] in live_versions:
            continue
        d = s["dir"]
        if d not in live_dirs and d.startswith("data/"):  # only dirs this log staged
            full = os.path.join(index_dir, d)
            if os.path.isdir(full):
                shutil.rmtree(full)
                removed += 1
        os.remove(_snap_path(index_dir, s["version"]))
    return removed

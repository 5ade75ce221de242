"""Versioned parquet table: snapshot log + merge-on-read upserts +
time travel + compaction — the lakehouse pattern (Iceberg/Delta-style,
implemented from scratch on plain parquet + JSON manifests) that an
incremental corpus build needs: every crawl lands as a new immutable
snapshot, readers pin a version, and upserted doc_ids resolve
latest-wins at read time.

Layout:

    table/
      data/s-<uuid>/...parquet   one immutable directory per snapshot
                                 (unique staging name; the manifest's
                                 data_dir field binds it to a version)
      snap-00001.json            {version, parent, mode, key_col, rows,
                                 data_dir, ...} — hard-link-claimed
                                 atomically (optimistic concurrency)

Modes: ``overwrite`` starts a new chain root; ``append`` adds rows;
``delete`` writes an equality-delete tombstone (the distinct key list —
the newest version owning a key wins, and a delete owner removes it);
``upsert`` adds rows that SHADOW older rows with the same key
(merge-on-read: the reader unions live version dirs and keeps the
max-version row per key — exactly Iceberg equality-delete semantics
without a delete file, because the new row itself is the tombstone).
``compact`` materializes the current view as a fresh overwrite root so
read cost stops growing with history.

Scale notes: each snapshot dir is written by a normal distributed
``df.write.parquet``; the read-side latest-wins window shuffles on the
key ONCE regardless of version count; manifests are O(versions) JSON —
driver-side by design (same as every table format's metadata layer).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from rag_content_spark.plans.index_commit import read_manifests


def _snap_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"snap-{version:05d}.json")


def snapshots(table_dir: str) -> list[dict]:
    """All snapshot manifests, ascending by PARSED version — past 99999
    the names grow a digit (index_commit.manifest_versions)."""
    return read_manifests(table_dir)


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    key_col: str | None = None,
    batch_id: int | None = None,
    txn_app_id: str | None = None,
) -> int:
    """Write ``df`` as the next snapshot; returns the new version.

    ``upsert`` requires ``key_col`` (recorded in the manifest — readers
    use it for latest-wins resolution). The data write is distributed;
    only the manifest touches the driver.

    ``(txn_app_id, batch_id)`` is the idempotence token for streaming
    foreachBatch sinks (the Delta txnAppId/txnVersion pattern): both
    are recorded in the manifest, and a call whose PAIR already has a
    committed manifest is a NO-OP returning the existing version.
    Without it a replayed micro-batch (manifest committed, but the
    streaming checkpoint crashed before advancing) would recompute the
    next version from the manifests and silently write a duplicate
    snapshot. The pair — not batch_id alone — matters when a stream's
    checkpoint is deleted and recreated against an existing table:
    batch ids restart at 0 and would collide with historical manifests,
    silently dropping every new micro-batch. ``txn_app_id`` should be
    the streaming query id (``start_table_stream`` reads it from the
    checkpoint metadata, so a fresh checkpoint is a fresh id) or any
    caller-chosen stable run identity. A bare ``batch_id`` with no
    ``txn_app_id`` keeps the old whole-table scope.
    """
    if mode not in ("append", "overwrite", "upsert", "delete"):
        raise ValueError(f"unknown mode: {mode}")
    if mode in ("upsert", "delete") and not key_col:
        raise ValueError(f"{mode} requires key_col")
    if mode == "delete":
        # a delete snapshot stores ONLY the distinct key list — the
        # equality-delete tombstone: at read time the newest version
        # owning a key wins, and a delete owner removes the key
        df = df.select(key_col).distinct()
    snaps = snapshots(table_dir)
    if batch_id is not None:
        dup = next(
            (
                s
                for s in snaps
                if s.get("batch_id") == batch_id
                and s.get("txn_app_id") == txn_app_id
            ),
            None,
        )
        if dup is not None:
            return dup["version"]
    if snaps:
        prior_key = next(
            (s["key_col"] for s in reversed(snaps) if s.get("key_col")), None
        )
        if mode in ("upsert", "delete") and prior_key and prior_key != key_col:
            raise ValueError(
                f"{mode} key {key_col!r} != table key {prior_key!r}"
            )
    # Optimistic concurrency (no lock service, plain POSIX): data lands
    # in a UNIQUE staging directory first (concurrent writers can never
    # collide on it; manifests record data_dir per version, so staging
    # paths are first-class), then the version number is claimed by
    # atomically hard-linking the fully-written manifest to
    # snap-NNNNN.json — link(2) fails with EEXIST if another writer won
    # that version, and the loser re-lists the log and re-claims the
    # next tip. Spark's own errorifexists is a pre-check, not a commit
    # token: concurrent jobs all pass it before any writes, which is
    # exactly the lost-update this protocol closes (pinned by the
    # threaded test).
    import uuid

    rel_dir = f"data/s-{uuid.uuid4().hex[:12]}"
    staging = os.path.join(table_dir, rel_dir)
    df.write.mode("errorifexists").parquet(staging)
    # count from the staged files, not by re-executing the input plan: a
    # second execution costs a full scan and, for a nondeterministic df,
    # would record a row count inconsistent with the bytes committed
    rows = df.sparkSession.read.parquet(staging).count()
    for _attempt in range(50):
        version = (snaps[-1]["version"] + 1) if snaps else 1
        manifest = {
            "version": version,
            "parent": snaps[-1]["version"] if snaps else None,
            "mode": mode,
            "key_col": key_col,
            "data_dir": rel_dir,
            "rows": rows,
            "batch_id": batch_id,
            "txn_app_id": txn_app_id,
        }
        tmp = os.path.join(table_dir, f".commit-{uuid.uuid4().hex[:12]}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        try:
            os.link(tmp, _snap_path(table_dir, version))
            os.remove(tmp)
            return version
        except FileExistsError:
            os.remove(tmp)
            snaps = snapshots(table_dir)
            # the winner may have been a replay of OUR (app, batch) pair
            if batch_id is not None:
                dup = next(
                    (
                        s
                        for s in snaps
                        if s.get("batch_id") == batch_id
                        and s.get("txn_app_id") == txn_app_id
                    ),
                    None,
                )
                if dup is not None:
                    return dup["version"]
    raise RuntimeError(
        f"lost the commit race 50 times in {table_dir}"
    )


def _live_chain(snaps: list[dict], version: int | None) -> list[dict]:
    """Snapshots contributing to the view at ``version`` (default
    latest): walk back to the most recent overwrite root."""
    upto = [s for s in snaps if version is None or s["version"] <= version]
    if version is not None and not any(s["version"] == version for s in snaps):
        raise ValueError(f"no snapshot version {version}")
    live: list[dict] = []
    for s in reversed(upto):
        live.append(s)
        if s["mode"] == "overwrite":
            break
    return list(reversed(live))


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The table view at ``version`` (default: latest) — merge-on-read:
    union the live snapshot dirs, then latest-version-wins per key when
    any live snapshot is an upsert. Within one version a key keeps all
    its rows (append semantics); across versions the newest version
    that wrote the key owns it entirely.
    """
    snaps = snapshots(table_dir)
    if not snaps:
        raise ValueError(f"no snapshots in {table_dir}")
    live = _live_chain(snaps, version)
    parts = []
    for s in live:
        parts.append(
            spark.read.parquet(os.path.join(table_dir, s["data_dir"]))
            .withColumn("_v", F.lit(s["version"]))
            .withColumn("_del", F.lit(s["mode"] == "delete"))
        )
    df = parts[0]
    for p in parts[1:]:
        # schema evolution: a column added in a later snapshot reads as
        # NULL for older rows (additive evolution, the lakehouse norm;
        # drops/renames need a compact() rewrite)
        df = df.unionByName(p, allowMissingColumns=True)
    key_col = next(
        (s["key_col"] for s in reversed(live) if s.get("key_col")), None
    )
    if key_col is not None:
        from pyspark.sql import Window

        latest = F.max("_v").over(Window.partitionBy(key_col))
        df = df.withColumn("_latest", latest).filter(
            F.col("_v") == F.col("_latest")
        ).drop("_latest")
    # a key whose newest owner is a delete tombstone is gone (a later
    # upsert resurrects it by winning the version race)
    return df.filter(~F.col("_del")).drop("_v", "_del")


def compact(spark: SparkSession, table_dir: str) -> int:
    """Materialize the current view as a new overwrite root — read cost
    resets to one directory; history remains time-travelable."""
    snaps = snapshots(table_dir)
    key_col = next(
        (s["key_col"] for s in reversed(snaps) if s.get("key_col")), None
    )
    current = read_snapshot(spark, table_dir)
    return write_snapshot(current, table_dir, mode="overwrite", key_col=key_col)


def vacuum(table_dir: str) -> int:
    """Retention: physically remove every snapshot STRICTLY BELOW the
    most recent overwrite root (data dir + manifest). Those versions no
    longer contribute to any view at or after the root, so the current
    table is untouched; time travel to the removed versions stops
    working — run after :func:`compact` to reclaim the superseded
    history (the Iceberg expire-snapshots / Delta VACUUM shape, with
    the retention boundary pinned to the compaction root). Returns the
    number of snapshots removed.
    """
    import shutil

    snaps = snapshots(table_dir)
    if not snaps:
        return 0
    root = None
    for s in reversed(snaps):
        if s["mode"] == "overwrite":
            root = s["version"]
            break
    if root is None:
        return 0
    removed = 0
    for s in snaps:
        if s["version"] < root:
            shutil.rmtree(
                os.path.join(table_dir, s["data_dir"]), ignore_errors=True
            )
            os.remove(_snap_path(table_dir, s["version"]))
            removed += 1
    return removed

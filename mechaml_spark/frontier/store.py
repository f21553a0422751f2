"""Snapshot store: Iceberg-style append snapshots on plain parquet.

The sandbox Spark has no Iceberg jar (SURVEY.md §4), so snapshots
are a manifest-JSON chain over parquet directories implementing the
same contract: atomic commit (write data, then publish the manifest
by write-tmp + rename), parent pointer, per-partition lineage metrics
(frontier-epoch, host-shard, rows-emitted), resume-from-latest.  The
API is deliberately thin so an Iceberg backend is a config switch on
a real cluster (``spark.write.format("iceberg")`` + snapshot metadata
instead of the manifest file).

Layout.  A manifest maps each table to a LIST of data directories
(``epoch=NNNNNN/<table>``, oldest first) and :meth:`SnapshotStore.load`
reads a table's list as one DataFrame.  Like an Iceberg append
snapshot, a commit adds data files instead of rewriting the table:

* appended tables (:data:`APPENDED`: the crawl's ``visit_log``,
  ``seen``, ``payload`` and ``blocked``) gain one directory per commit
  holding only that epoch's rows, and keep the parent's directories by
  reference, so each row is written once over a whole crawl;
* every other table is live state (the crawl's ``frontier``, ``jar``
  and ``bloom``) and is replaced: its list becomes the one directory
  the commit wrote;
* tables a commit does not name are carried forward by reference.

A directory only becomes visible when a manifest lists it, so a commit
that dies between table writes leaves orphans no snapshot references.
``compact`` (collapse one table's list into one directory) and
``expire_snapshots`` (drop old manifests, delete what no survivor
lists) are the maintenance pair.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from dataclasses import asdict, dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

APPENDED = frozenset({"visit_log", "seen", "payload", "blocked"})


@dataclass
class Snapshot:
    epoch: int
    parent: int | None
    tables: dict[str, list[str]]  # name -> parquet directories, oldest first
    metrics: dict
    wall_time: float


def _has_data(path: str) -> bool:
    """An empty partitioned write leaves no data file (only
    ``_SUCCESS``), and such a directory has no schema to read."""
    return any(
        not f.startswith(("_", "."))
        for _, _, files in os.walk(path)
        for f in files
    )


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _manifest_path(self, epoch: int) -> str:
        return os.path.join(self.root, f"manifest-{epoch:06d}.json")

    def _epochs(self) -> list[int]:
        return sorted(
            int(f[len("manifest-") : -len(".json")])
            for f in os.listdir(self.root)
            if f.startswith("manifest-") and f.endswith(".json")
        )

    def _manifest(self, epoch: int) -> dict:
        with open(self._manifest_path(epoch)) as f:
            return json.load(f)

    def latest_epoch(self) -> int | None:
        epochs = self._epochs()
        return epochs[-1] if epochs else None

    def _write(self, epoch: int, name: str, df: DataFrame,
               partition_by=()) -> str:
        path = os.path.join(self.root, f"epoch={epoch:06d}", name)
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
        return path

    def _publish(self, epoch: int, parent: int | None,
                 tables: dict[str, list[str]], metrics: dict,
                 t0: float) -> Snapshot:
        """The one manifest writer: atomically publish ``tables`` (the
        snapshot's full name -> directory-list map) as ``epoch``."""
        snap = Snapshot(epoch, parent, tables, metrics, time.time() - t0)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(asdict(snap), f, indent=1)
        os.replace(tmp, self._manifest_path(epoch))  # atomic publish
        return snap

    def commit(
        self,
        epoch: int,
        tables: dict[str, DataFrame],
        metrics: dict | None = None,
        partition_by: dict[str, list[str]] | None = None,
    ) -> Snapshot:
        """Write each table's directory and publish the manifest.  For
        :data:`APPENDED` names the frame is the epoch's delta, added
        to the parent's list; any other name is replaced.  The parent
        is the newest snapshot below ``epoch``, so a crawl restarted
        without resume never appends to an older crawl's deltas.
        ``metrics`` should
        include per-partition lineage (host_shard -> rows) supplied
        by the scheduler."""
        t0 = time.time()
        parent = max((e for e in self._epochs() if e < epoch), default=None)
        lists = {} if parent is None else self._manifest(parent)["tables"]
        for name, df in tables.items():
            path = self._write(
                epoch, name, df, (partition_by or {}).get(name, ())
            )
            kept = lists.get(name, []) if name in APPENDED else []
            lists[name] = kept + [path]
        return self._publish(epoch, parent, lists, metrics or {}, t0)

    def _replace(self, spark: SparkSession, epoch: int, name: str,
                 rewrite, metrics: dict) -> Snapshot:
        """Publish the latest snapshot with table ``name`` replaced by
        ``rewrite(current frame)`` in one new directory; every other
        table is carried forward by reference."""
        t0 = time.time()
        parent, dfs = self.load(spark)
        if name not in dfs:
            raise KeyError(name)
        path = self._write(epoch, name, rewrite(dfs[name]))
        return self._publish(
            epoch, parent.epoch, parent.tables | {name: [path]}, metrics, t0
        )

    def merge_commit(
        self,
        spark: SparkSession,
        epoch: int,
        name: str,
        updates: DataFrame,
        key: list[str],
        delete_updates: DataFrame | None = None,
        metrics: dict | None = None,
    ) -> Snapshot:
        """``MERGE INTO``-shaped commit — the exact surface an Iceberg
        backend swap must implement (Iceberg SQL: ``MERGE INTO t USING
        u ON <key> WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
        INSERT``, plus a keyed delete branch):

        * rows of ``updates`` win on ``key`` (matched -> update,
          unmatched -> insert);
        * rows keyed by ``delete_updates`` are removed;
        * ONLY the merged table gets new data files (one directory
          replacing its list) — every other table of the parent
          snapshot is carried forward BY REFERENCE (Iceberg's
          unchanged-manifest reuse);
        * the parent snapshot stays readable afterwards (snapshots
          are immutable; time travel by id keeps working).

        On the parquet fallback the merge is computed relationally
        (anti-join + union, the same algebra as
        :func:`mechaml_spark.cookies.jar_upsert`); on Iceberg it
        becomes one MERGE statement + the commit's new snapshot id."""

        def merge(base: DataFrame) -> DataFrame:
            kept = base.join(updates.select(*key), on=key, how="left_anti")
            merged = kept.unionByName(updates)
            if delete_updates is not None:
                merged = merged.join(
                    delete_updates.select(*key), on=key, how="left_anti"
                )
            return merged

        return self._replace(spark, epoch, name, merge, metrics or {})

    def load(self, spark: SparkSession, epoch: int | None = None
             ) -> tuple[Snapshot, dict[str, DataFrame]]:
        """Snapshot ``epoch`` (default: the latest) with each table's
        directory list read as one DataFrame.  Directories are read one
        by one (Spark rejects several partitioned roots in one read),
        skipping empty ones unless the whole table is empty."""
        if epoch is None:
            epoch = self.latest_epoch()
            if epoch is None:
                raise FileNotFoundError(f"no snapshots under {self.root}")
        snap = Snapshot(**self._manifest(epoch))

        def read(paths: list[str]) -> DataFrame:
            paths = [p for p in paths if _has_data(p)] or paths
            return reduce(DataFrame.unionByName,
                          map(spark.read.parquet, paths))

        return snap, {name: read(ps) for name, ps in snap.tables.items()}

    def lineage(self) -> list[dict]:
        """Manifest chain, oldest first — ends cleanly where history
        has been expired (a parent whose manifest no longer exists)."""
        out = []
        e = self.latest_epoch()
        seen_epochs = set()
        while e is not None and e not in seen_epochs:
            seen_epochs.add(e)
            try:
                m = self._manifest(e)
            except FileNotFoundError:
                break  # expired ancestor: chain ends here
            out.append(m)
            e = m["parent"]
        return list(reversed(out))

    # -- table maintenance (the Iceberg expire_snapshots /
    # -- rewrite_data_files pair, without which a 10^10-row frontier
    # -- accumulates unbounded metadata and small files) ---------------

    def expire_snapshots(self, keep_last: int) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and
        garbage-collect data directories no surviving snapshot
        references — Iceberg's ``expire_snapshots`` contract.  Appended
        tables and :meth:`merge_commit` carry old directories forward
        BY REFERENCE, so an old epoch's parquet may still back the
        newest snapshot: GC is reference-counted over the survivors'
        directory lists, never age-based.  Returns what was removed."""
        if keep_last < 1:
            raise ValueError("must keep at least the latest snapshot")
        epochs = self._epochs()
        drop, keep = epochs[:-keep_last], epochs[-keep_last:]

        def dirs(e: int) -> list[str]:
            return [p for ps in self._manifest(e)["tables"].values()
                    for p in ps]

        live = {p for e in keep for p in dirs(e)}
        removed_dirs = []
        for e in drop:
            for path in dirs(e):
                if path not in live and os.path.isdir(path):
                    shutil.rmtree(path)
                    removed_dirs.append(path)
            os.remove(self._manifest_path(e))
        # sweep now-empty epoch dirs
        for d in os.listdir(self.root):
            full = os.path.join(self.root, d)
            if d.startswith("epoch=") and os.path.isdir(full) \
                    and not os.listdir(full):
                os.rmdir(full)
        return {"expired_epochs": drop, "removed_dirs": removed_dirs,
                "kept_epochs": keep}

    def compact(
        self,
        spark: SparkSession,
        epoch: int,
        name: str,
        target_files: int,
        metrics: dict | None = None,
    ) -> Snapshot:
        """Collapse one table's directory list into ONE directory of
        ``target_files`` files and publish the result as a NEW snapshot
        (Iceberg's ``rewrite_data_files`` commits a replace snapshot;
        the parent stays readable).  Row content is untouched — this
        is the small-files pass a long crawl runs so per-epoch append
        commits don't degrade scans into thousands of tiny tasks."""
        return self._replace(
            spark, epoch, name, lambda df: df.coalesce(target_files),
            (metrics or {}) | {"compacted": name,
                               "target_files": target_files},
        )

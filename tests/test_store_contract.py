"""Backend-contract test for SnapshotStore: the exact surface an
Iceberg swap must implement, proven against the parquet fallback
(VERDICT r2 item 9).  A manifest maps each table to a list of data
directories: appended tables (``store.APPENDED``) gain one per commit,
live-state tables are replaced.  Contract points:

1. atomic commit — a manifest is published complete-or-not-at-all;
2. snapshot lineage — parent chain, oldest-first traversal, and time
   travel: load by snapshot id (epoch) while later snapshots exist;
3. snapshot immutability — committing epoch N+1 leaves epoch N's
   files untouched and readable; an appended table's snapshot N reads
   exactly the deltas of commits 0..N;
4. partition spec — a table committed with partition_by materializes
   a partition layout the reader PRUNES on (PartitionFilters in the
   scan, the Iceberg partition-spec equivalent);
5. MERGE semantics — merge_commit implements MERGE INTO (matched
   update / unmatched insert / keyed delete) with every untouched
   table carried forward by reference, not rewritten;
6. maintenance — expire_snapshots GC is refcounted over every
   surviving directory list, and compact collapses a list into one
   directory with the same rows.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mechaml_spark.frontier.store import SnapshotStore


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "snaps"))


def _frontier(spark, epoch, n=20):
    return spark.range(n).select(
        F.concat(F.lit(f"http://h{epoch}.test/p"), "id").alias("url_norm"),
        (F.col("id") % 4).cast("int").alias("host_shard"),
        F.lit(epoch).alias("discovered_epoch"),
    )


def test_lineage_time_travel_and_immutability(spark, store):
    for e in range(3):
        store.commit(
            e,
            {"frontier": _frontier(spark, e), "seen": _frontier(spark, e, 8)},
            metrics={"frontier_epoch": e},
            partition_by={"seen": ["host_shard"]},
        )
    # lineage: oldest first, parent chain intact
    lin = store.lineage()
    assert [m["epoch"] for m in lin] == [0, 1, 2]
    assert [m["parent"] for m in lin] == [None, 0, 1]
    assert store.latest_epoch() == 2

    # time travel: load by snapshot id while later snapshots exist
    snap1, dfs1 = store.load(spark, epoch=1)
    assert snap1.parent == 0
    assert dfs1["frontier"].agg(F.min("discovered_epoch")).first()[0] == 1

    # immutability: epoch-1 contents identical after epoch-2 commit
    rows_before = sorted(map(tuple, dfs1["frontier"].collect()))
    snap1b, dfs1b = store.load(spark, epoch=1)
    assert sorted(map(tuple, dfs1b["frontier"].collect())) == rows_before

    # directory lists: live state replaced, appended table grows by one
    # directory per commit and time travel reads only the older deltas
    assert [len(m["tables"]["frontier"]) for m in lin] == [1, 1, 1]
    assert [len(m["tables"]["seen"]) for m in lin] == [1, 2, 3]
    assert lin[2]["tables"]["seen"][:2] == lin[1]["tables"]["seen"]
    assert dfs1["seen"].count() == 16
    assert store.load(spark, epoch=2)[1]["seen"].count() == 24

    # atomic publish: no tmp manifests survive, all manifests parse
    leftovers = [f for f in os.listdir(store.root) if f.endswith(".tmp")]
    assert leftovers == []
    for f in os.listdir(store.root):
        if f.startswith("manifest-"):
            json.load(open(os.path.join(store.root, f)))


def test_partition_spec_prunes(spark, store):
    store.commit(
        0,
        {"seen": _frontier(spark, 0, 64)},
        partition_by={"seen": ["host_shard"]},
    )
    _, dfs = store.load(spark, 0)
    # physical layout: hive-style partition dirs (the partition spec)
    (seen_dir,) = store.lineage()[0]["tables"]["seen"]
    parts = {d for d in os.listdir(seen_dir) if d.startswith("host_shard=")}
    assert parts == {f"host_shard={i}" for i in range(4)}
    # the reader prunes on the partition column
    q = dfs["seen"].where(F.col("host_shard") == 2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "host_shard" in plan
    assert q.count() == 16
    # an appended delta keeps the spec, an empty delta (no data files)
    # is skipped, and the multi-directory read still prunes every scan
    store.commit(1, {"seen": _frontier(spark, 1, 64)},
                 partition_by={"seen": ["host_shard"]})
    store.commit(2, {"seen": _frontier(spark, 2, 0)},
                 partition_by={"seen": ["host_shard"]})
    _, dfs = store.load(spark, 2)
    q = dfs["seen"].where(F.col("host_shard") == 2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters: [isnotnull(host_shard") == 2
    assert q.count() == 32


def test_merge_commit_is_merge_into(spark, store):
    base = spark.createDataFrame(
        [("a", "h.test", "/", "v1"), ("b", "h.test", "/", "v2"),
         ("c", "x.test", "/", "v3")],
        "name string, domain string, path string, value string",
    )
    aux = _frontier(spark, 0, 5)
    store.commit(0, {"jar": base, "frontier": aux})
    updates = spark.createDataFrame(
        [("a", "h.test", "/", "NEW"), ("d", "y.test", "/", "v4")],
        "name string, domain string, path string, value string",
    )
    deletes = spark.createDataFrame(
        [("c", "x.test", "/", None)],
        "name string, domain string, path string, value string",
    )
    snap = store.merge_commit(
        spark, 1, "jar", updates, key=["name", "domain", "path"],
        delete_updates=deletes,
    )
    assert snap.parent == 0
    _, dfs = store.load(spark, 1)
    got = {(r["name"], r["value"]) for r in dfs["jar"].collect()}
    # matched->update (a), unmatched->insert (d), delete (c), keep (b)
    assert got == {("a", "NEW"), ("b", "v2"), ("d", "v4")}
    # untouched tables carried forward BY REFERENCE (same paths)
    lin = store.lineage()
    assert lin[1]["tables"]["frontier"] == lin[0]["tables"]["frontier"]
    assert lin[1]["tables"]["jar"] != lin[0]["tables"]["jar"]
    assert len(lin[1]["tables"]["jar"]) == 1
    # parent snapshot still readable (immutability across merge)
    _, dfs0 = store.load(spark, 0)
    assert {r["name"] for r in dfs0["jar"].collect()} == {"a", "b", "c"}


def test_expire_snapshots_refcounted_gc(spark, store):
    """Iceberg expire_snapshots semantics: old manifests go away, but
    data directories still referenced by a surviving snapshot (via
    merge_commit's carry-forward-by-reference) MUST survive GC."""
    store.commit(0, {"jar": spark.createDataFrame(
        [("a", "h", "/", "v1")],
        "name string, domain string, path string, value string",
    ), "frontier": _frontier(spark, 0)})
    for e in (1, 2, 3):
        updates = spark.createDataFrame(
            [(f"k{e}", "h", "/", f"v{e}")],
            "name string, domain string, path string, value string",
        )
        store.merge_commit(spark, e, "jar", updates,
                           key=["name", "domain", "path"])
    # epoch-0 "frontier" parquet is still referenced by epoch 3
    res = store.expire_snapshots(keep_last=2)
    assert res["expired_epochs"] == [0, 1]
    assert store.latest_epoch() == 3
    # expired manifests gone, survivors intact
    assert [m["epoch"] for m in store.lineage()] == [2, 3]
    # the carried-forward frontier data survived GC and still loads
    _, dfs = store.load(spark, 3)
    assert dfs["frontier"].count() == 20
    assert dfs["jar"].count() == 4
    # the epoch-1 jar rewrite (referenced by nothing surviving) is gone
    assert any("epoch=000001" in d for d in res["removed_dirs"])
    with pytest.raises(FileNotFoundError):
        store.load(spark, 0)


def test_expire_keeps_appended_directories(spark, store):
    """An appended table's oldest delta is listed by every later
    snapshot, so expiring the snapshot that wrote it must not delete
    it; only replaced live state goes."""
    for e in range(3):
        store.commit(e, {"visit_log": _frontier(spark, e, 5),
                         "frontier": _frontier(spark, e)})
    res = store.expire_snapshots(keep_last=1)
    assert res["expired_epochs"] == [0, 1]
    assert sorted(res["removed_dirs"]) == [
        os.path.join(store.root, f"epoch={e:06d}", "frontier")
        for e in (0, 1)
    ]
    _, dfs = store.load(spark)
    assert dfs["visit_log"].count() == 15
    assert dfs["frontier"].count() == 20


def test_compact_rewrites_files_preserves_rows(spark, store):
    wide = _frontier(spark, 0, n=512).repartition(16)
    store.commit(0, {"frontier": wide, "jar": spark.createDataFrame(
        [("a", "h", "/", "v")],
        "name string, domain string, path string, value string",
    )})
    before = {r["url_norm"] for r in store.load(spark, 0)[1]["frontier"]
              .collect()}

    def n_files(path):
        return sum(
            1 for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(".")
        )

    lin0 = store.lineage()[0]
    assert n_files(lin0["tables"]["frontier"][0]) >= 16
    snap = store.compact(spark, 1, "frontier", target_files=2)
    assert snap.parent == 0 and snap.metrics["compacted"] == "frontier"
    _, dfs = store.load(spark, 1)
    assert {r["url_norm"] for r in dfs["frontier"].collect()} == before
    (compacted,) = snap.tables["frontier"]
    assert n_files(compacted) <= 2
    # untouched jar carried by reference; parent still readable
    assert snap.tables["jar"] == lin0["tables"]["jar"]
    assert store.load(spark, 0)[1]["frontier"].count() == 512


def test_compact_collapses_appended_directories(spark, store):
    for e in range(3):
        store.commit(e, {"payload": _frontier(spark, e, 10)})
    assert len(store.lineage()[-1]["tables"]["payload"]) == 3
    before = sorted(map(tuple, store.load(spark)[1]["payload"].collect()))
    snap = store.compact(spark, 3, "payload", target_files=1)
    assert len(snap.tables["payload"]) == 1
    after = sorted(map(tuple, store.load(spark, 3)[1]["payload"].collect()))
    assert after == before and len(after) == 30

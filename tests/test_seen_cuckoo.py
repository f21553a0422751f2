"""Cuckoo-filter URL-seen backend (north rule: "bloom/cuckoo").

Covers: pure-numpy filter mechanics (insert/probe/delete, eviction
chains, multiset collision safety, overflow), Spark-level equivalence
with the bloom backend, deletion re-admission and overflow exactness.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mechaml_spark.frontier.seen import (
    CUCKOO_SLOTS,
    CuckooSeenSet,
    SeenSet,
    _cuckoo_blob,
    _cuckoo_insert,
    _cuckoo_keys,
    _cuckoo_probe,
    _cuckoo_state,
)


def _keys(n, n_buckets, seed=0):
    rng = np.random.default_rng(seed)
    h0 = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
    h1 = rng.integers(-(2**63), 2**63, size=n, dtype=np.int64)
    return _cuckoo_keys(h0, h1, n_buckets)


# --------------------------------------------------------------- pure numpy
def test_insert_probe_roundtrip_pure():
    B = 64
    tbl = np.zeros((B, CUCKOO_SLOTS), np.uint16)
    fp, i1, i2 = _keys(200, B)  # 78% load on 256 slots -> real evictions
    assert _cuckoo_insert(tbl, fp, i1, i2, B)
    assert _cuckoo_probe(tbl, fp, i1, i2).all()
    # alt-bucket identity: i1 == i2 XOR h(fp), so probe is symmetric
    fpo, j1, j2 = _keys(500, B, seed=1)
    fpr = _cuckoo_probe(tbl, fpo, j1, j2)
    # a fresh random key can collide, but never en masse
    assert fpr.mean() < 0.5


def test_multiset_collision_then_delete_pure():
    """Two distinct URLs sharing (fp, buckets): multiset insert keeps
    two copies, deleting one leaves the other probing positive."""
    B = 64
    tbl = np.zeros((B, CUCKOO_SLOTS), np.uint16)
    fp = np.array([7, 7], np.uint16)
    i1 = np.array([3, 3], np.int64)
    i2 = np.array([11, 11], np.int64)
    assert _cuckoo_insert(tbl, fp, i1, i2, B)  # multiset: both placed
    assert (tbl[3] == 7).sum() + (tbl[11] == 7).sum() == 2
    # delete one copy (what CuckooSeenSet.delete does per URL)
    hit = np.nonzero(tbl[3] == 7)[0]
    tbl[3, hit[0]] = 0
    assert _cuckoo_probe(tbl, fp[:1], i1[:1], i2[:1]).all()


def test_overflow_returns_false_pure():
    B = 8  # 32 slots
    tbl = np.zeros((B, CUCKOO_SLOTS), np.uint16)
    fp, i1, i2 = _keys(64, B)
    assert not _cuckoo_insert(tbl, fp, i1, i2, B)


def test_state_blob_roundtrip():
    B = 16
    tbl = np.arange(B * CUCKOO_SLOTS, dtype=np.uint16).reshape(B, CUCKOO_SLOTS)
    for ovf in (False, True):
        t2, o2 = _cuckoo_state(_cuckoo_blob(tbl, ovf), B)
        assert o2 == ovf and (t2 == tbl).all()
    t0, o0 = _cuckoo_state(None, B)
    assert not o0 and not t0.any()


# ------------------------------------------------------------------- spark
def _urls(spark, lo, hi, tag="u"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"http://s{tag}"), (F.col("id") % 13),
                 F.lit(".test/"), F.col("id")).alias("url_norm"),
        F.concat(F.lit(f"s{tag}"), (F.col("id") % 13), F.lit(".test")).alias("host"),
    )


def test_filter_new_matches_bloom_backend(spark):
    seeds = _urls(spark, 0, 400)
    cands = _urls(spark, 300, 700)  # 100 seen, 300 new
    bloom = SeenSet(spark, n_shards=4, n_bits=1 << 16).add(seeds)
    cuckoo = CuckooSeenSet(spark, n_shards=4, n_bits=1 << 16).add(seeds)
    got_b = sorted(r["url_norm"] for r in bloom.filter_new(cands).collect())
    got_c = sorted(r["url_norm"] for r in cuckoo.filter_new(cands).collect())
    assert got_b == got_c
    assert len(got_c) == 300


def test_delete_readmits_spark(spark):
    seeds = _urls(spark, 0, 300)
    stale = _urls(spark, 0, 50)  # revisit subset
    seen = CuckooSeenSet(spark, n_shards=4, n_bits=1 << 16).add(seeds)
    assert seen.filter_new(seeds).count() == 0
    seen = seen.delete(stale)
    readmitted = sorted(
        r["url_norm"] for r in seen.filter_new(seeds).collect()
    )
    want = sorted(r["url_norm"] for r in stale.collect())
    assert readmitted == want


def test_overflow_stays_exact_spark(spark):
    # n_bits=1<<16 -> 1024 buckets = 4096 slots per shard; one shard
    # and 6000 URLs forces the overflow flag; membership must stay
    # exact via the authoritative table (filter degrades to always-
    # maybe, never to wrong answers)
    seen = CuckooSeenSet(spark, n_shards=1, n_bits=1 << 16).add(
        _urls(spark, 0, 6000)
    )
    blob = seen.bloom_df.collect()[0]["bits"]
    assert blob[-1] == 1  # overflowed
    cands = _urls(spark, 5900, 6200)  # 100 seen, 200 new
    got = sorted(r["url_norm"] for r in seen.filter_new(cands).collect())
    want = sorted(r["url_norm"] for r in _urls(spark, 6000, 6200).collect())
    assert got == want


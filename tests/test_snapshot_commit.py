"""Append-only snapshot commits of a checkpointed crawl.

* every appended table (``store.APPENDED``) holds each row exactly
  once: the per-epoch delta directories sum to the final table;
* a crash at any table write of a commit leaves directories no
  manifest references, and ``resume=True`` then reaches the same
  state as a straight-through crawl.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import DataFrameWriter

from mechaml_spark import corpus as cp
from mechaml_spark.frontier.scheduler import crawl
from mechaml_spark.frontier.store import APPENDED, _has_data

SPEC = cp.CorpusSpec(n_hosts=3, pages_per_host=8)
SEEDS = [cp.page_url(SPEC, 0, 0), cp.page_url(SPEC, 1, 3)]
KW = dict(budget_per_host=2, n_shards=4, n_bits=1 << 16)
TABLES = 7  # frontier, bloom, jar, seen, visit_log, blocked, payload


def _rows(df):
    return sorted(map(repr, map(tuple, df.select(sorted(df.columns))
                                .collect())))


def _state(res):
    return {
        "visit_log": _rows(res.visit_log),
        "seen": _rows(res.seen.seen_df.select("url_norm")),
        "payload": _rows(res.payload),
        "jar": _rows(res.jar),
        "pages_log": _rows(res.pages_log),
    }


@pytest.fixture(scope="module")
def corpus(spark):
    return cp.corpus_df(spark, SPEC).cache()


@pytest.fixture(scope="module")
def checkpointed(spark, corpus, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("append"))
    return crawl(spark, SPEC, SEEDS, max_epochs=6, corpus=corpus,
                 checkpoint_dir=ckpt, **KW)


def test_appended_tables_write_each_row_once(spark, checkpointed):
    res = checkpointed
    assert res.epochs >= 4
    tables = res.store.lineage()[-1]["tables"]
    final = {
        "visit_log": res.visit_log.count(),
        "seen": res.seen.seen_df.count(),
        "payload": res.payload.count(),
        "blocked": res.pages_log.where("status = -1").count(),
    }
    assert set(final) == APPENDED
    for name, n in final.items():
        deltas = tables[name]
        assert len(deltas) == res.epochs == len(set(deltas)), name
        written = sum(
            spark.read.parquet(d).count() for d in deltas if _has_data(d)
        )
        assert written == n > 0, (name, written, n)
    # live state is one directory; pages_log is derived, not stored
    for name in ("frontier", "jar", "bloom"):
        assert len(tables[name]) == 1, name
    assert "pages_log" not in tables


def test_resume_derives_pages_log(spark, corpus, checkpointed):
    res2 = crawl(spark, SPEC, SEEDS, max_epochs=6, corpus=corpus,
                 checkpoint_dir=checkpointed.store.root, resume=True, **KW)
    assert _state(res2) == _state(checkpointed)


@pytest.fixture(scope="module")
def straight(spark, corpus):
    return _state(crawl(spark, SPEC, SEEDS, max_epochs=3, corpus=corpus,
                        **KW))


@pytest.mark.parametrize("k", [1, TABLES // 2 + 1, TABLES])
def test_crash_mid_commit_then_resume(spark, corpus, straight, tmp_path,
                                      monkeypatch, k):
    """Raise on the k-th table write of epoch 1's commit (first,
    middle, last table), then resume from the epoch-0 snapshot."""
    ckpt = str(tmp_path / "snap")
    crash_dir = os.path.join(ckpt, "epoch=000001")
    real_parquet = DataFrameWriter.parquet
    writes = []

    def parquet(self, path, *args, **kwargs):
        if path.startswith(crash_dir):
            writes.append(path)
            if len(writes) == k:
                raise RuntimeError("injected crash")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(RuntimeError, match="injected crash"):
        crawl(spark, SPEC, SEEDS, max_epochs=3, corpus=corpus,
              checkpoint_dir=ckpt, **KW)
    monkeypatch.undo()

    manifests = sorted(f for f in os.listdir(ckpt)
                       if f.startswith("manifest-"))
    assert manifests == ["manifest-000000.json"]
    listed = set()
    for f in manifests:
        with open(os.path.join(ckpt, f)) as fh:
            for paths in json.load(fh)["tables"].values():
                listed.update(paths)
    orphans = {os.path.join(crash_dir, d) for d in os.listdir(crash_dir)} \
        if os.path.isdir(crash_dir) else set()
    assert len(orphans) == k - 1
    assert not listed & orphans

    resumed = crawl(spark, SPEC, SEEDS, max_epochs=3, corpus=corpus,
                    checkpoint_dir=ckpt, resume=True, **KW)
    assert _state(resumed) == straight

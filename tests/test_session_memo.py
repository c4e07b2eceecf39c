"""The session memo (session.py): one keyed memo for every artefact derived
from an sf_dir's data, one ``invalidate(sf_dir)`` for the rewrite protocol."""

from __future__ import annotations

import os
from types import SimpleNamespace

from conftest import SF_SMOKE


def _persisted(df) -> bool:
    from pyspark import StorageLevel

    return df.storageLevel != StorageLevel.NONE


def _fake_session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_memo_sweep_bound_and_invalidate(fresh_memo, monkeypatch):
    """Repeat lookups hit; other sessions' entries are swept on insert;
    the LRU bound counts sf_dirs; invalidate drops by sf_dir, by kind, or
    everything — and every drop runs the entry's release."""
    session = fresh_memo
    released: list[str] = []
    a, b = _fake_session("app-a"), _fake_session("app-b")

    def memo(spark, sf, kind, value, *args):
        return session.session_memo(
            spark, sf, kind, lambda: value, *args, release=released.append
        )

    assert memo(a, "/sf1", "scan", "v1", "orders") == "v1"
    assert memo(a, "/sf1", "scan", "other", "orders") == "v1", "hit serves the first build"
    memo(a, "/sf1", "scan", "v2", "lineitem")
    assert released == []

    # stale sessions: an insert from app-b releases every app-a entry
    memo(b, "/sf2", "fit", "f2")
    assert sorted(released) == ["v1", "v2"]
    assert memo(b, "/sf1", "scan", "v3", "orders") == "v3", "app-a entries are gone"

    # the bound counts sf_dirs, least recently used first
    released.clear()
    monkeypatch.setattr(session, "MEMO_MAX_SF_DIRS", 2)
    memo(b, "/sf2", "fit", "unused")  # hit: /sf2 becomes most recent
    memo(b, "/sf3", "fit", "f3")
    assert released == ["v3"], "/sf1 was least recently used"
    assert memo(b, "/sf2", "fit", "unused") == "f2"

    # invalidate(sf_dir), invalidate(kind=...), invalidate()
    released.clear()
    memo(b, "/sf2", "shingles", "s2", 2)
    memo(b, "/sf3", "shingles", "s3", 2)
    session.invalidate(kind="shingles")
    assert sorted(released) == ["s2", "s3"]
    assert memo(b, "/sf2", "fit", "unused") == "f2", "other kinds survive"
    session.invalidate("/sf2")
    assert "f2" in released and "f3" not in released
    assert memo(b, "/sf2", "fit", "f2b") == "f2b"
    session.invalidate()
    assert "f3" in released and "f2b" in released
    assert session._MEMO == {}


def test_one_invalidate_drops_every_derived_entry(spark, fresh_memo):
    """The rewrite protocol is ONE call: invalidate(sf_dir) drops the
    scans, the persisted shingle relation, the postings index (and its
    directory) and the fit built on that data, so each is rebuilt from
    the rewritten files on next use."""
    from data_warehouse_product_mix_clustering_spark.operators.ivm import mark_dirty
    from data_warehouse_product_mix_clustering_spark.plans.dedup import shared_shingles
    from data_warehouse_product_mix_clustering_spark.plans.ml import product_clusters
    from data_warehouse_product_mix_clustering_spark.plans.text import _postings_index_for
    from data_warehouse_product_mix_clustering_spark.sources import registry

    scan = registry.table(spark, "documents", SF_SMOKE)
    shingles = shared_shingles(spark, SF_SMOKE)
    index_dir = _postings_index_for(spark, SF_SMOKE)
    fit = product_clusters(spark, SF_SMOKE)
    assert shared_shingles(spark, SF_SMOKE) is shingles
    assert _postings_index_for(spark, SF_SMOKE) == index_dir
    assert product_clusters(spark, SF_SMOKE) is fit

    registry.invalidate(SF_SMOKE)

    assert not os.path.exists(index_dir), "the old index directory is removed"
    assert not _persisted(shingles), "the old shingle relation is unpersisted"
    assert registry.table(spark, "documents", SF_SMOKE) is not scan
    assert shared_shingles(spark, SF_SMOKE) is not shingles
    rebuilt = _postings_index_for(spark, SF_SMOKE)
    assert rebuilt != index_dir
    assert product_clusters(spark, SF_SMOKE) is not fit

    # a hit is served only while its commit marker stands: a torn index
    # is dropped (directory included) and rebuilt
    mark_dirty(rebuilt)
    assert _postings_index_for(spark, SF_SMOKE) != rebuilt
    assert not os.path.exists(rebuilt)


def test_release_runs_on_eviction_and_stale_sweep(spark, fresh_memo, monkeypatch):
    """Entries that own resources give them back when the memo drops them
    without an invalidate: an evicted or swept shingle relation is
    unpersisted, an evicted or swept postings index leaves the disk."""
    from data_warehouse_product_mix_clustering_spark.plans.dedup import shared_shingles
    from data_warehouse_product_mix_clustering_spark.plans.text import _postings_index_for

    session = fresh_memo

    def build_both():
        sh = shared_shingles(spark, SF_SMOKE)
        idx = _postings_index_for(spark, SF_SMOKE)
        assert _persisted(sh) and os.path.isdir(idx)
        return sh, idx

    # eviction by the sf_dir bound
    sh, idx = build_both()
    monkeypatch.setattr(session, "MEMO_MAX_SF_DIRS", 1)
    session.session_memo(spark, "/elsewhere", "probe", object)
    assert not _persisted(sh) and not os.path.exists(idx)

    # stale-session sweep on another session's insert
    monkeypatch.setattr(session, "MEMO_MAX_SF_DIRS", 8)
    sh, idx = build_both()
    session.session_memo(_fake_session("another-app"), "/elsewhere", "probe", object)
    assert not _persisted(sh) and not os.path.exists(idx)

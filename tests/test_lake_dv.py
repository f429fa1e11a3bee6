"""Deletion vectors on the Delta log: merge-on-read deletes that re-add
the touched files with roaring DVs instead of rewriting them, applied at
scan time — plus their interactions with stacking, rewrites,
compaction, merge, restore, the change feed, the DataSource reader,
and vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    deltastream,
)


def _df(spark, lo, hi, tag=0):
    return spark.range(lo, hi).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") * 10 + tag).cast("bigint").alias("v"),
    )


def _ids(spark, path, version=None):
    return sorted(
        r["doc_id"] for r in dp.read_delta(spark, path, version).collect()
    )


def _live(spark, path):
    return dp._fold_delta_state(spark, path, None)[1]


def _dv_files(path):
    return [f for f in os.listdir(path) if f.startswith("deletion_vector_")]


def _stream_feed(spark, path, tmp_path):
    """The whole change feed as delivered by the format('deltaproto')
    change stream (one availableNow drain)."""
    deltastream.register(spark)
    out = str(tmp_path / "feed_out")
    q = (
        spark.readStream.format("deltaproto")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "feed_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.read.parquet(out)


@pytest.fixture()
def lake(spark, tmp_path):
    path = str(tmp_path / "lake")
    dp.write_delta(_df(spark, 0, 100).repartitionByRange(4, "doc_id"), path)
    return path


def test_dv_delete_hides_without_rewrite(spark, lake):
    live_before = set(_live(spark, lake))
    v = dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    # no data file added or removed — the commit re-adds the same
    # paths, each with a DeletionVectorDescriptor
    assert set(_live(spark, lake)) == live_before
    acts = dp._read_actions(lake, v)
    adds = [a["add"] for a in acts if "add" in a]
    assert adds and all(a["deletionVector"] for a in adds)
    assert sorted(a["path"] for a in adds) == sorted(
        a["remove"]["path"] for a in acts if "remove" in a
    )
    assert _ids(spark, lake) == [i for i in range(100) if not 10 <= i <= 29]
    # time travel: the pre-delete snapshot still shows every row
    assert _ids(spark, lake, version=v - 1) == list(range(100))
    assert len(_dv_files(lake)) >= 1


def test_dv_stacking_and_exact_increments(spark, lake):
    """Overlapping second delete: the DVs union per file, and the
    commit's change feed holds ONLY the newly-hidden rows."""
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    v2 = dp.delete_where_delta(spark, lake, "doc_id", 20, 39, strategy="dv")
    assert _ids(spark, lake) == [i for i in range(100) if not 10 <= i <= 39]
    assert sum(
        int((a.get("deletionVector") or {}).get("cardinality") or 0)
        for a in _live(spark, lake).values()
    ) == 30
    ch = dp.read_changes_delta(spark, lake, v2, v2)
    assert sorted(r["doc_id"] for r in ch.collect()) == list(range(30, 40))
    # zero-match DV delete is a no-op commit
    vs = dp.delta_versions(lake)
    assert (
        dp.delete_where_delta(spark, lake, "doc_id", 15, 25, strategy="dv")
        == vs[-1]
    )
    assert dp.delta_versions(lake) == vs


def test_rewrite_and_compact_materialize_dvs(spark, lake):
    """A copy-on-write delete or a compaction applies pending DVs
    physically: no live add keeps a descriptor and the data stays
    exactly the visible set."""
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    dp.delete_where_delta(spark, lake, "doc_id", 50, 59)  # rewrite path
    want = [i for i in range(100) if not (10 <= i <= 29 or 50 <= i <= 59)]
    assert _ids(spark, lake) == want
    dp.compact_delta(spark, lake)
    assert not any(a.get("deletionVector") for a in _live(spark, lake).values())
    assert _ids(spark, lake) == want


def test_merge_does_not_resurrect_dv_rows(spark, lake):
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    dp.merge_upsert_delta(spark, _df(spark, 25, 35, tag=7), lake, "doc_id")
    snap = {r["doc_id"]: r["v"] for r in dp.read_delta(spark, lake).collect()}
    # 25..34 upserted (back) with tag 7; 10..24 stay deleted
    assert all(snap[i] == i * 10 + 7 for i in range(25, 35))
    assert all(i not in snap for i in range(10, 25))
    assert len(snap) == 100 - 20 + 5


def test_scan_pruned_and_datasource_apply_dvs(spark, lake):
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    df, _n_read, _s = dp.read_delta_pruned(spark, lake, "doc_id", 0, 49)
    got = sorted(r["doc_id"] for r in df.collect())
    assert got == [i for i in range(50) if not 10 <= i <= 29]
    deltastream.register(spark)
    ds = spark.read.format("deltaproto").load(lake)
    assert sorted(r["doc_id"] for r in ds.collect()) == [
        i for i in range(100) if not 10 <= i <= 29
    ]


def test_change_feed_and_restore_across_dvs(spark, lake, tmp_path):
    """CDF legs for DV deletes are exact (only newly-hidden rows), and
    a restore across a DV delete emits the un-hidden rows as inserts —
    replaying the feed reproduces every snapshot transition, through
    both the batch feed and the format('deltaproto') change stream."""
    v_pre = dp.delta_versions(lake)[-1]
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    dp.delete_where_delta(spark, lake, "doc_id", 20, 39, strategy="dv")
    restore_v = dp.restore_delta(spark, lake, v_pre)
    assert _ids(spark, lake) == list(range(100))
    assert not any(a.get("deletionVector") for a in _live(spark, lake).values())

    for feed in (
        dp.read_changes_delta(spark, lake, since_version=0),
        _stream_feed(spark, lake, tmp_path),
    ):
        rows = [
            (r["doc_id"], r["_change_type"], r["_commit_version"])
            for r in feed.collect()
        ]
        state: set = set()
        for doc_id, ctype, _v in sorted(rows, key=lambda t: t[2]):
            if ctype == "insert":
                state.add(doc_id)
            else:
                state.remove(doc_id)
        assert sorted(state) == list(range(100))
        # per-commit exactness
        by_commit: dict = {}
        for doc_id, ctype, v in rows:
            by_commit.setdefault((v, ctype), []).append(doc_id)
        deletes = sorted(k for k in by_commit if k[1] == "delete")
        assert sorted(by_commit[deletes[0]]) == list(range(10, 30))
        assert sorted(by_commit[deletes[1]]) == list(range(30, 40))
        assert sorted(by_commit[(restore_v, "insert")]) == list(range(10, 40))
        assert (restore_v, "delete") not in by_commit


def test_vacuum_sweeps_obsolete_dv_files(spark, lake):
    dp.delete_where_delta(spark, lake, "doc_id", 10, 29, strategy="dv")
    assert len(_dv_files(lake)) >= 1
    dp.compact_delta(spark, lake)  # materializes: DVs now unreferenced
    want = _ids(spark, lake)
    deleted = dp.vacuum_delta(spark, lake, retain_versions=0, min_age_s=0.0)
    assert deleted >= 1
    assert _dv_files(lake) == []
    assert _ids(spark, lake) == want


def test_maybe_compact_dv_ratio_trigger(spark, lake):
    """The DV-density maintenance trigger: under the ratio it declines,
    over it it compacts (materializing the DVs) — decided from the log
    alone (each add's DV `cardinality` against its `numRecords`)."""
    dp.delete_where_delta(spark, lake, "doc_id", 0, 9, strategy="dv")  # 10%
    assert dp.maybe_compact_delta(spark, lake, max_dv_ratio=0.3) is None
    dp.delete_where_delta(spark, lake, "doc_id", 10, 44, strategy="dv")  # 45%
    v = dp.maybe_compact_delta(spark, lake, max_dv_ratio=0.3)
    assert v is not None
    assert dp.delta_history(lake)[-1]["operation"] == "OPTIMIZE"
    assert not any(a.get("deletionVector") for a in _live(spark, lake).values())
    assert _ids(spark, lake) == list(range(45, 100))
    # no DVs left: the ratio rule has nothing to act on
    assert dp.maybe_compact_delta(spark, lake, max_dv_ratio=0.0) is None

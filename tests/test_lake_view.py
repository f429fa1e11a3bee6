"""Incremental materialized views (sources/lakeview.py): delta
application parity vs full recompute across appends, both delete
strategies, and maintenance; zero-group drops; idempotence; merges
applied through their pre/post images; the full-refresh fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.sources import (
    deltaproto as dp,
    lakeview,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 3).cast("bigint").alias("val"),
    )


def _view_rows(spark, view):
    return sorted(
        (r["grp"], r["n_rows"], r["sum_value"])
        for r in dp.read_delta(spark, view).collect()
    )


def _expected(spark, base):
    return sorted(
        (r["grp"], r["n_rows"], r["sum_value"])
        for r in dp.read_delta(spark, base)
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("val").cast("bigint").alias("sum_value"),
        )
        .collect()
    )


def test_incremental_refresh_parity_and_idempotence(spark, tmp_path):
    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    dp.write_delta(_df(spark, 0, 80).repartitionByRange(4, "doc_id"), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")  # bootstrap
    assert _view_rows(spark, view) == _expected(spark, base)

    # append + both delete strategies + compaction, one refresh
    dp.write_delta(_df(spark, 80, 120), base)
    dp.delete_where_delta(spark, base, "doc_id", 10, 29)
    dp.delete_where_delta(spark, base, "doc_id", 50, 59, strategy="dv")
    dp.compact_delta(spark, base)
    assert lakeview.refresh(spark, base, view, ["grp"], "val") is not None
    assert _view_rows(spark, view) == _expected(spark, base)

    # a RESTORE that un-hides DV-deleted rows refreshes incrementally
    v_dv = dp.delete_where_delta(spark, base, "doc_id", 60, 69, strategy="dv")
    lakeview.refresh(spark, base, view, ["grp"], "val")
    dp.restore_delta(spark, base, v_dv - 1)
    assert lakeview.refresh(spark, base, view, ["grp"], "val") is not None
    assert _view_rows(spark, view) == _expected(spark, base)

    # already current: no-op; re-running stays exact (idempotent)
    assert lakeview.refresh(spark, base, view, ["grp"], "val") is None
    assert _view_rows(spark, view) == _expected(spark, base)
    # the sync position is the view's `txn` action; a replayed commit
    # for a position already synced is dropped by the writer
    synced = dp.delta_txn_versions(spark, view)["lakeview"]
    assert synced == dp.delta_versions(base)[-1]
    view_v = dp.delta_versions(view)[-1]
    assert (
        dp.write_delta(
            dp.read_delta(spark, view), view, mode="overwrite",
            txn=("lakeview", synced),
        )
        == view_v
    )
    assert dp.delta_versions(view)[-1] == view_v


def test_group_drops_to_zero(spark, tmp_path):
    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    dp.write_delta(_df(spark, 0, 8).repartitionByRange(2, "doc_id"), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    # delete every row of grp '3' (ids 3 and 7)
    dp.delete_where_delta(spark, base, "doc_id", 3, 3)
    dp.delete_where_delta(spark, base, "doc_id", 7, 7)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    got = _view_rows(spark, view)
    assert all(g != "3" for g, _n, _s in got)  # group gone, not zero-row
    assert got == _expected(spark, base)


def test_merge_falls_back_to_full_refresh(spark, tmp_path):
    """A merge's change feed carries update pre/post images, which the
    refresh applies incrementally; a commit whose feed cannot be
    derived (here: the base's pre-image file was removed from disk)
    raises, and `full_refresh` recovers, after which incremental
    refresh resumes from the new position."""
    import os

    base = str(tmp_path / "base")
    view = str(tmp_path / "view")
    dp.write_delta(_df(spark, 0, 40), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    dp.merge_upsert_delta(
        spark,
        _df(spark, 10, 15).withColumn("val", F.lit(999).cast("bigint")),
        base,
        "doc_id",
    )
    lakeview.refresh(spark, base, view, ["grp"], "val")
    assert _view_rows(spark, view) == _expected(spark, base)
    # a plain overwrite's delete leg needs the pre-image files
    dp.write_delta(_df(spark, 0, 30), base, mode="overwrite")
    _m, live, _v = dp._fold_delta_state(spark, base, dp.delta_versions(base)[-2])
    for f in live:
        os.remove(os.path.join(base, f))
    with pytest.raises(ValueError, match="no longer present"):
        lakeview.refresh(spark, base, view, ["grp"], "val")
    lakeview.full_refresh(spark, base, view, ["grp"], "val")
    assert _view_rows(spark, view) == _expected(spark, base)
    # and incremental refresh resumes from the new position
    dp.write_delta(_df(spark, 100, 120), base)
    lakeview.refresh(spark, base, view, ["grp"], "val")
    assert _view_rows(spark, view) == _expected(spark, base)
